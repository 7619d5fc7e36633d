"""Text-analysis operators for the training-data pipeline surface.

All hot-path expressions are JVM-side built-ins (split/regexp/array
lambdas) — no Python UDFs — so they run inside whole-stage codegen and
scale linearly with the documents table. At 100 TB the same plans apply;
the only knob is input split size.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import StructType

from ..session import literal_df
from ..sources.tables import load_table
from . import register, scoped_persist

STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "on", "for", "with"]
_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"

# BPE-ish pre-tokenization: letter runs, digit runs, single punctuation
_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           len(string_split_regex(trim(text), ' +')) AS n_ws_tokens,
           len(regexp_extract_all(text, '{_TOKEN_RE}')) AS n_bpe_tokens,
           n_chars
    FROM documents
    """,
    doc="token counting: whitespace tokens + BPE-ish regex pre-tokens.",
    tags=("text",),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), " +")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0)).alias("n_bpe_tokens"),
        "n_chars",
    )


def _capped(x: str) -> str:
    """``min(x, 1)`` as SQL text; a CASE, as DuckDB's LEAST turns
    DECIMALs into DOUBLE."""
    return f"CASE WHEN {x} < 1 THEN {x} ELSE 1 END"


# The weighted score in exact DECIMAL arithmetic, the same text in Spark
# and in its DuckDB oracle: in DOUBLE, a half-way sum such as 0.58315
# rounds to 4 places differently in the two engines. The ratios are
# already rounded to 4 places, so their DECIMAL casts are exact; the
# divisions are multiplications because DuckDB turns a DECIMAL division
# into DOUBLE.
_QUALITY_SQL = f"""CAST(ROUND(
        0.4 * {_capped("n_tokens * 0.01")}
      + 0.4 * {_capped("CAST(stop_ratio AS DECIMAL(20, 4)) * 4")}
      + 0.2 * {_capped("CAST(avg_token_len AS DECIMAL(20, 4)) * 0.125")}, 4) AS DOUBLE)"""


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id, n_tokens, stop_ratio, avg_token_len, {_QUALITY_SQL} AS quality
    FROM (
        SELECT doc_id,
               len(toks) AS n_tokens,
               ROUND(len(list_filter(toks, t -> list_contains({_STOP_SQL}, t)))
                     * 1.0 / len(toks), 4) AS stop_ratio,
               ROUND(length(array_to_string(toks, '')) * 1.0 / len(toks), 4)
                   AS avg_token_len
        FROM (SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS toks
              FROM documents)
        WHERE len(toks) > 0
    )
    """,
    doc="quality scoring: length / stopword-ratio / token-length heuristics "
    "(training-data filtering, e.g. C4-style).",
    tags=("text",),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), " +")
    d = d.select("doc_id", toks.alias("toks")).where(F.size("toks") > 0)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_tokens = F.size("toks")
    stop_ratio = F.round(
        F.size(F.filter("toks", lambda t: F.array_contains(stop_arr, t))) / n_tokens, 4
    )
    avg_len = F.round(F.length(F.concat_ws("", F.col("toks"))) / n_tokens, 4)
    d = d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        avg_len.alias("avg_token_len"),
    )
    return d.withColumn("quality", F.expr(_QUALITY_SQL))


@register(
    "text_lang_id",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN vr < 0.34 THEN 'consonantal'
                WHEN vr < 0.38 THEN 'balanced'
                ELSE 'vocalic' END AS char_class,
           vr AS vowel_ratio
    FROM (
        SELECT doc_id, lang,
               ROUND(len(regexp_extract_all(lower(text), '[aeiou]')) * 1.0
                     / GREATEST(len(regexp_extract_all(lower(text), '[a-z]')), 1), 4) AS vr
        FROM documents
    )
    """,
    doc="language-ID n-gram/charclass heuristic (deterministic char-stat "
    "classifier; real models plug in as pandas_udf at the same slot).",
    tags=("text",),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    vowels = F.size(F.regexp_extract_all(low, F.lit("[aeiou]"), 0))
    letters = F.greatest(F.size(F.regexp_extract_all(low, F.lit("[a-z]"), 0)), F.lit(1))
    vr = F.round(vowels * F.lit(1.0) / letters, 4)
    return d.select("doc_id", "lang", vr.alias("vr")).select(
        "doc_id",
        "lang",
        F.when(F.col("vr") < 0.34, "consonantal")
        .when(F.col("vr") < 0.38, "balanced")
        .otherwise("vocalic")
        .alias("char_class"),
        F.col("vr").alias("vowel_ratio"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
               string_split_regex(trim(lower(text)), ' +'))), ' ')) AS fingerprint
    FROM documents
    """,
    doc="document fingerprint: digest over sorted distinct token set "
    "(word-order-insensitive near-exact dedup key).",
    tags=("text", "dedup"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), " +")
    return d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))).alias("fingerprint"),
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, UNNEST(string_split_regex(trim(lower(text)), ' +')) AS tok
        FROM documents
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf
        FROM toks WHERE doc_id < 50 GROUP BY 1, 2
    ),
    idf AS (
        SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    )
    SELECT doc_id, tok, rn, tfidf FROM (
        SELECT tf.doc_id, tf.tok,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf * ln(n.n_docs * 1.0 / idf.df) DESC, tf.tok
               ) AS rn,
               ROUND(tf.tf * ln(n.n_docs * 1.0 / idf.df), 4) AS tfidf
        FROM tf JOIN idf USING (tok) CROSS JOIN n
    ) WHERE rn <= 3
    """,
    doc="TF-IDF top-3 terms per document (docs 0-49; idf over the FULL "
    "corpus): tf and df are two shuffled aggregations over the exploded "
    "token stream, the scalar doc count joins in as a broadcast, top-k per "
    "doc via window. The classic IR weighting, all JVM expressions.",
    tags=("text",),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("tok")
    )
    tf = (
        toks.where(F.col("doc_id") < 50)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = toks.distinct().groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf_raw", F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_raw"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "tok", "rn", F.round("tfidf_raw", 4).alias("tfidf"))
    )


@register(
    "text_clean_html",
    oracle="""
    WITH dirty AS (
      SELECT doc_id,
             '<div id="d' || CAST(doc_id AS VARCHAR) || '"><p>' || text
             || '</p>&amp; tail&nbsp;' || CAST(doc_id % 7 AS VARCHAR)
             || '</div>' AS raw
      FROM documents
    ),
    cleaned AS (
      SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(
                 replace(replace(replace(replace(replace(
                   regexp_replace(raw, '<[^>]+>', ' ', 'g'),
                   '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                   '&quot;', '"'), '&nbsp;', ' '),
                 '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g'),
               '\\s+', ' ', 'g')) AS clean
      FROM dirty
    )
    SELECT doc_id,
           CAST(length(clean) AS BIGINT) AS clean_len,
           CAST(length(clean) - length(replace(clean, ' ', '')) + 1 AS BIGINT)
               AS n_tokens,
           substr(md5(clean), 1, 16) AS digest
    FROM cleaned
    """,
    doc="text cleaning for training corpora: HTML tag strip, entity decode, "
    "control-char removal, whitespace collapse — a pure JVM "
    "regexp_replace/replace chain (no UDF; whole-stage codegen). The "
    "fixture wraps each document in deterministic HTML + entities so the "
    "md5 digest of every cleaned document gates each transformation "
    "step; at 100 TB this op is a map-only scan with zero shuffles.",
    tags=("text", "llm-pipeline"),
)
def text_clean_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit('<div id="d'), F.col("doc_id").cast("string"), F.lit('"><p>'),
        F.col("text"), F.lit("</p>&amp; tail&nbsp;"),
        (F.col("doc_id") % 7).cast("string"), F.lit("</div>"),
    )
    clean = F.regexp_replace(raw, "<[^>]+>", " ")
    for ent, ch in (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&nbsp;", " ")):
        clean = F.replace(clean, F.lit(ent), F.lit(ch))
    clean = F.regexp_replace(clean, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")
    clean = F.trim(F.regexp_replace(clean, "\\s+", " "))
    return docs.select(
        "doc_id",
        F.length(clean).cast("bigint").alias("clean_len"),
        (F.length(clean) - F.length(F.replace(clean, F.lit(" "), F.lit(""))) + 1)
        .cast("bigint")
        .alias("n_tokens"),
        F.substring(F.md5(clean.cast("binary")), 1, 16).alias("digest"),
    )


@register(
    "text_pii_scrub",
    oracle=r"""
    WITH dirty AS (
      SELECT doc_id,
             text || ' contact u' || CAST(doc_id AS VARCHAR)
             || '@example.com or +1-555-' || printf('%04d', doc_id % 10000)
             || CASE WHEN doc_id % 3 = 0
                     THEN ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                     ELSE '' END AS raw
      FROM documents
    ),
    scrubbed AS (
      SELECT doc_id, raw,
             regexp_replace(
               regexp_replace(
                 regexp_replace(raw,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                 '\+?\d{1,2}[-. ]?\d{3}[-. ]?\d{4}', '<PHONE>', 'g'),
               '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS clean
      FROM dirty
    )
    SELECT doc_id,
           CAST(length(raw) - length(regexp_replace(raw,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '', 'g'))
                > 0 AS INT) AS has_email,
           CAST(len(regexp_extract_all(clean, '<EMAIL>')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(clean, '<PHONE>')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(clean, '<IP>')) AS BIGINT) AS n_ips,
           substr(md5(clean), 1, 16) AS digest
    FROM scrubbed
    """,
    doc="PII scrubbing for training corpora: email/phone/IPv4 detection + "
    "redaction as a pure JVM regexp chain (map-only scan, zero shuffles "
    "at any scale). The fixture plants deterministic PII per doc; the "
    "md5 digest of every redacted document hash-gates each regex "
    "replacement, and the per-kind counts gate detection.",
    tags=("text", "llm-pipeline", "pii"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"), F.lit(" contact u"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" from 192.168."), (F.col("doc_id") % 256).cast("string"),
                F.lit("."), ((F.col("doc_id") * 7) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    email_re = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    phone_re = "\\+?\\d{1,2}[-. ]?\\d{3}[-. ]?\\d{4}"
    ip_re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
    clean = F.regexp_replace(raw, email_re, "<EMAIL>")
    clean = F.regexp_replace(clean, phone_re, "<PHONE>")
    clean = F.regexp_replace(clean, ip_re, "<IP>")
    return docs.select(
        "doc_id",
        (F.length(raw) - F.length(F.regexp_replace(raw, email_re, "")) > 0)
        .cast("int")
        .alias("has_email"),
        F.size(F.regexp_extract_all(clean, F.lit("<EMAIL>"), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(clean, F.lit("<PHONE>"), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
        F.size(F.regexp_extract_all(clean, F.lit("<IP>"), F.lit(0)))
        .cast("bigint")
        .alias("n_ips"),
        F.substring(F.md5(clean.cast("binary")), 1, 16).alias("digest"),
    )


@register(
    "text_ngram_lm_score",
    # Two-pass char-bigram LM with add-1 smoothing over a restricted
    # alphabet (lowercase letters + space). P(c2|c1) estimated from the
    # whole corpus; doc score = mean log2 P over its bigrams, rounded.
    # Every arithmetic step is integer-count based until the final log,
    # so Spark and DuckDB agree to float rounding (round 6).
    oracle="""
    WITH chars AS (
      SELECT doc_id, regexp_replace(lower(text), '[^a-z ]', '', 'g') AS s
      FROM documents
    ),
    bigrams AS (
      SELECT doc_id, substr(s, i.i, 2) AS bg, substr(s, i.i, 1) AS c1
      FROM chars, (SELECT UNNEST(generate_series(1, 4000)) AS i) i
      WHERE i.i <= length(s) - 1
    ),
    bg_counts AS (SELECT bg, COUNT(*) AS nbg FROM bigrams GROUP BY bg),
    c1_counts AS (SELECT c1, COUNT(*) AS nc1 FROM bigrams GROUP BY c1)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(log2((bc.nbg + 1.0) / (cc.nc1 + 27.0))), 6) AS avg_log2p
    FROM bigrams b
    JOIN bg_counts bc ON bc.bg = b.bg
    JOIN c1_counts cc ON cc.c1 = b.c1
    GROUP BY b.doc_id
    """,
    doc="corpus-trained char-bigram language model as a quality filter "
    "(the perplexity-proxy gate of web-corpus pipelines, cf. CCNet): "
    "pass 1 aggregates bigram/context counts over the whole corpus "
    "(map-side partial aggs, tiny 27x27 model), pass 2 scores every "
    "document by mean log-probability with add-1 smoothing. The count "
    "tables are small enough to BROADCAST at any corpus size, so "
    "scoring is a map-only scan at 100 TB. Counts are exact integers, "
    "so the hash gates the whole train+score pipeline cross-engine.",
    tags=("text", "llm-pipeline", "lm"),
)
def text_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", "")
    chars = docs.select("doc_id", s.alias("s")).where(F.length("s") >= 2)
    bigrams = chars.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("s") - 1),
                lambda i: F.col("s").substr(i, F.lit(2)),
            )
        ).alias("bg"),
    ).withColumn("c1", F.substring(F.col("bg"), 1, 1))
    # persist: the bigram stream feeds both model-count aggregations AND
    # the scoring join — unpersisted, the explode pipeline ran three times
    bigrams = scoped_persist(bigrams)
    bg_counts = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("nbg"))
    c1_counts = bigrams.groupBy("c1").agg(F.count(F.lit(1)).alias("nc1"))
    # the LM is tiny (≤ 27² rows) — broadcast both sides so scoring never
    # shuffles the corpus
    scored = (
        bigrams.join(F.broadcast(bg_counts), "bg")
        .join(F.broadcast(c1_counts), "c1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                F.avg(F.log2((F.col("nbg") + 1.0) / (F.col("nc1") + 27.0))), 6
            ).alias("avg_log2p"),
        )
    )
    return scored


@register(
    "data_quality_report",
    oracle="""
    SELECT 'not_null' AS check, 'text' AS "column",
           CAST(COUNT(*) FILTER (WHERE text IS NULL) AS BIGINT) AS violations,
           CAST(COUNT(*) AS BIGINT) AS total,
           COUNT(*) FILTER (WHERE text IS NULL) = 0 AS passed
    FROM documents
    UNION ALL
    SELECT 'range', 'n_chars',
           CAST(COUNT(*) FILTER (WHERE n_chars IS NOT NULL
                                   AND (n_chars < 0 OR n_chars > 100000)) AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           COUNT(*) FILTER (WHERE n_chars IS NOT NULL
                              AND (n_chars < 0 OR n_chars > 100000)) = 0
    FROM documents
    UNION ALL
    SELECT 'in_set', 'lang',
           CAST(COUNT(*) FILTER (WHERE lang IS NOT NULL
                 AND lang NOT IN ('en', 'de', 'fr', 'es', 'zz')) AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           COUNT(*) FILTER (WHERE lang IS NOT NULL
                 AND lang NOT IN ('en', 'de', 'fr', 'es', 'zz')) = 0
    FROM documents
    UNION ALL
    SELECT 'regex', 'source',
           CAST(COUNT(*) FILTER (WHERE source IS NOT NULL
                 AND NOT regexp_full_match(source, '[a-z0-9_.-]+')) AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           COUNT(*) FILTER (WHERE source IS NOT NULL
                 AND NOT regexp_full_match(source, '[a-z0-9_.-]+')) = 0
    FROM documents
    UNION ALL
    SELECT 'unique', 'doc_id',
           CAST(COALESCE(SUM(n) FILTER (WHERE n > 1), 0) AS BIGINT),
           CAST(COALESCE(SUM(n), 0) AS BIGINT),
           COALESCE(SUM(n) FILTER (WHERE n > 1), 0) = 0
    FROM (SELECT doc_id, COUNT(*) AS n FROM documents
          WHERE doc_id IS NOT NULL GROUP BY doc_id)
    """,
    doc="declarative data-quality gate (operators/quality.py): N checks — "
    "null/range/set/regex/uniqueness — compiled into ONE aggregation "
    "pass over the scan (conditional counts; uniqueness adds one grouped "
    "pass per grain). At 100 TB a validation suite costs one scan, never "
    "a scan per check. The oracle recomputes every check in SQL.",
    tags=("quality", "llm-pipeline"),
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import run_checks

    docs = load_table(spark, sf_dir, "documents")
    return run_checks(
        docs,
        [
            {"check": "not_null", "column": "text"},
            {"check": "range", "column": "n_chars", "min": 0, "max": 100000},
            {"check": "in_set", "column": "lang", "values": ["en", "de", "fr", "es", "zz"]},
            {"check": "regex", "column": "source", "pattern": "[a-z0-9_.-]+"},
            {"check": "unique", "column": "doc_id"},
        ],
    )


@register(
    "text_repetition_filter",
    # Gopher-style repetition rules (Rae et al. 2021, Table A1): fraction
    # of tokens inside the single most frequent 2-/3-gram, and the
    # fraction of 5-gram instances whose exact text recurs in the doc.
    # Windows mirror text_substring_dedup's slice convention.
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    grams AS (
      SELECT doc_id, n_tokens, n.n,
             array_to_string(list_slice(t, s.s + 1, s.s + n.n), ' ') AS g
      FROM toks
      CROSS JOIN (SELECT UNNEST([2, 3, 5]) AS n) n
      CROSS JOIN LATERAL (
        SELECT UNNEST(generate_series(0, n_tokens - n.n)) AS s
      ) s
      WHERE n_tokens >= n.n
    ),
    counts AS (
      SELECT doc_id, n_tokens, n, g, COUNT(*) AS c
      FROM grams GROUP BY doc_id, n_tokens, n, g
    ),
    top AS (
      SELECT doc_id, n_tokens,
             MAX(CASE WHEN n = 2 THEN c END) AS top2,
             MAX(CASE WHEN n = 3 THEN c END) AS top3,
             CAST(SUM(CASE WHEN n = 5 AND c >= 2 THEN c ELSE 0 END)
                  AS BIGINT) AS dup5,
             CAST(SUM(CASE WHEN n = 5 THEN c ELSE 0 END) AS BIGINT)
                 AS tot5
      FROM counts GROUP BY doc_id, n_tokens
    )
    SELECT doc_id, n_tokens,
           ROUND(top2 * 2.0 / n_tokens, 6) AS top_bigram_frac,
           ROUND(top3 * 3.0 / n_tokens, 6) AS top_trigram_frac,
           ROUND(dup5 * 1.0 / tot5, 6) AS dup_fivegram_frac,
           CAST(
             top2 * 2.0 / n_tokens > 0.20
             OR top3 * 3.0 / n_tokens > 0.18
             OR dup5 * 1.0 / tot5 > 0.30
             AS BOOLEAN
           ) AS would_filter
    FROM top
    WHERE tot5 > 0
    """,
    doc="Gopher-style REPETITION filters (Rae et al. 2021 — the "
    "production cleaning rules between exact and fuzzy dedup): per "
    "document, the token fraction covered by the single most frequent "
    "2-/3-gram and the fraction of 5-gram instances whose exact text "
    "recurs, thresholded into a filter verdict. Pure JVM expressions: "
    "one posexplode per n over the token arrays, two aggregations "
    "(per-gram counts → per-doc max/sums) — at 100 TB this is the "
    "text_substring_dedup shuffle shape with per-DOC keys, so "
    "partial aggregation absorbs almost everything map-side.",
    tags=("text", "quality", "llm"),
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).withColumn("n_tokens", F.size("toks").cast("bigint"))
    grams = None
    for n in (2, 3, 5):
        g = toks.where(F.col("n_tokens") >= n).select(
            "doc_id",
            "n_tokens",
            F.lit(n).alias("n"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), (F.col("n_tokens") - n).cast("int")),
                    lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, n)),
                )
            ).alias("g"),
        )
        grams = g if grams is None else grams.unionByName(g)
    counts = grams.groupBy("doc_id", "n_tokens", "n", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    top = counts.groupBy("doc_id", "n_tokens").agg(
        F.max(F.when(F.col("n") == 2, F.col("c"))).alias("top2"),
        F.max(F.when(F.col("n") == 3, F.col("c"))).alias("top3"),
        F.sum(
            F.when((F.col("n") == 5) & (F.col("c") >= 2), F.col("c")).otherwise(0)
        ).cast("bigint").alias("dup5"),
        F.sum(F.when(F.col("n") == 5, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("tot5"),
    )
    top2f = F.col("top2") * 2.0 / F.col("n_tokens")
    top3f = F.col("top3") * 3.0 / F.col("n_tokens")
    dup5f = F.col("dup5") * 1.0 / F.col("tot5")
    return top.where(F.col("tot5") > 0).select(
        "doc_id",
        "n_tokens",
        F.round(top2f, 6).alias("top_bigram_frac"),
        F.round(top3f, 6).alias("top_trigram_frac"),
        F.round(dup5f, 6).alias("dup_fivegram_frac"),
        ((top2f > 0.20) | (top3f > 0.18) | (dup5f > 0.30)).alias("would_filter"),
    )


# deterministic 32-bit hash shared with the DuckDB oracles (same as
# queries/dedup._hash32: md5 head → bigint, bit-identical cross-engine)
def _h32(col):
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


_BLOCKLIST = ["src3", "src7", "src13"]
_BLOCK_SQL = "(" + ", ".join(f"'{s}'" for s in _BLOCKLIST) + ")"


@register(
    "text_domain_filter",
    oracle=f"""
    SELECT source,
           source IN {_BLOCK_SQL} AS blocked,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split_regex(trim(text), ' +'))) AS BIGINT)
               AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    """,
    doc="C4-style source/domain filtering: a broadcast blocklist flags "
    "whole sources for removal; per-source doc/token/char totals feed "
    "the corpus-composition report. 100 TB shape: the blocklist is a "
    "driver-resident literal (an IN filter inside codegen), the stats a "
    "map-side partial aggregation on a low-cardinality key.",
    tags=("text", "llm", "filter"),
)
def text_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.first(F.col("source").isin(_BLOCKLIST)).alias("blocked"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.trim("text"), " +"))).cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


# per-language keep-rates (percent): the data-mixing knob — downsample
# the dominant language, keep the rest. Deterministic per-doc hash, so
# the sample is reproducible across engines, runs and cluster sizes.
_MIX_RATES = {"en": 30, "de": 80, "zh": 80, "fr": 80, "es": 80}
_RATE_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_RATES.items())
    + " ELSE 100 END"
)


@register(
    "text_stratified_sample",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
           CAST(SUM(len(string_split_regex(trim(text), ' +')))
                FILTER (WHERE keep) AS BIGINT) AS kept_tokens
    FROM (
        SELECT lang, text,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 < ({_RATE_SQL}) AS keep
        FROM documents
    )
    GROUP BY lang
    """,
    doc="Deterministic stratified sampling (the data-mixing primitive: "
    "re-weight languages/sources for a training mix): keep a document "
    "iff md5-hash(doc_id) %% 100 falls under its language's rate. The "
    "hash makes the sample reproducible and cluster-size-independent — "
    "rerunning at 100 TB or resuming a failed job selects the SAME "
    "documents, unlike rand()-based sampling. Pure map-side filter + "
    "partial agg; rates ship as a literal CASE, no join.",
    tags=("text", "llm", "sampling"),
)
def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    rate = F.lit(100)
    for k, v in _MIX_RATES.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    keep = _h32(F.col("doc_id").cast("string")) % 100 < rate
    return (
        d.withColumn("keep", keep)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
            F.sum(
                F.when(F.col("keep"), F.size(F.split(F.trim("text"), " +")))
            ).cast("bigint").alias("kept_tokens"),
        )
    )


_PACK_LEN = 512  # context-window token budget per packed sequence
_PACK_SHARDS = 16  # packing-window parallelism per source


@register(
    "text_sequence_pack",
    oracle=f"""
    WITH toks AS (
        SELECT source, doc_id,
               ((doc_id % {_PACK_SHARDS}) + {_PACK_SHARDS}) % {_PACK_SHARDS}
                   AS shard,
               len(string_split_regex(trim(text), ' +')) AS n_tok
        FROM documents
    ),
    placed AS (
        SELECT source, shard, doc_id, n_tok,
               COALESCE(SUM(n_tok) OVER (
                   PARTITION BY source, shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS prefix
        FROM toks
    )
    SELECT source,
           CAST(shard AS BIGINT) AS shard,
           CAST(prefix // {_PACK_LEN} AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM placed
    GROUP BY source, shard, bin
    """,
    doc="Sequence packing for pretraining: concatenate documents into "
    "fixed-budget context windows ({} tokens) by assigning each doc the "
    "bin of its exclusive running-token prefix. Packing runs PER "
    "(source, shard) with a deterministic shard key (doc_id mod {}): "
    "corpora have O(10^2) sources, so a source-only window would still "
    "drag TBs through one task at 100 TB scale — sharding keeps window "
    "parallelism proportional to data, not source cardinality, and the "
    "order within a shard stays deterministic.".format(
        _PACK_LEN, _PACK_SHARDS
    ),
    tags=("text", "llm", "packing"),
)
def text_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = d.select(
        "source",
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(_PACK_SHARDS)).cast("bigint").alias("shard"),
        F.size(F.split(F.trim("text"), " +")).alias("n_tok"),
    )
    placed = toks.withColumn(
        "prefix", F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    )
    return placed.groupBy(
        "source", "shard", F.floor(F.col("prefix") / _PACK_LEN).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


@register(
    "text_word_freq_topk",
    oracle="""
    SELECT tok, n, rank FROM (
        SELECT tok, n,
               CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rank
        FROM (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT UNNEST(string_split_regex(trim(lower(text)), ' +')) AS tok
                  FROM documents)
            GROUP BY tok
        )
    ) WHERE rank <= 25
    """,
    doc="Corpus vocabulary statistics: global top-25 tokens with counts "
    "and a total ordering (count desc, token asc). The expensive half — "
    "per-token counting over every document — is a map-side partial "
    "aggregation; only per-token totals reach the shuffle, and the "
    "final top-k is a driver-bounded sort of the (tiny) vocabulary.",
    tags=("text", "llm", "stats"),
)
def text_word_freq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split(F.trim(F.lower("text")), " +")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # TakeOrderedAndProject first (per-partition top-25 + driver merge —
    # no global Exchange+Sort over the 10^7-10^8-token web vocabulary),
    # THEN rank the 25 survivors with a trivially small window.
    top = counts.orderBy(F.desc("n"), F.asc("tok")).limit(25)
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select("tok", "n", "rank")
    )


MIX_ALPHA = 0.3  # XLM-R / mT5 temperature exponent
MIX_BUDGET = 0.5  # fraction of the corpus the mixed sample should keep


@register(
    "text_mixture_sample",
    # the oracle recomputes the alpha-power mixture weights, per-source
    # acceptance rates, and the md5 acceptance gate exactly, so every
    # per-source rate and kept-count is hash-gated
    oracle=f"""
    WITH docs AS (
      SELECT source, doc_id,
             (CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 1000000) / 1000000.0 AS u
      FROM documents
    ),
    counted AS (
      SELECT source, COUNT(*)::DOUBLE AS n_s FROM docs GROUP BY source
    ),
    rated AS (
      SELECT source, n_s,
             POW(n_s, {MIX_ALPHA}) / SUM(POW(n_s, {MIX_ALPHA})) OVER () AS p_s,
             LEAST(1.0,
                   {MIX_BUDGET} * SUM(n_s) OVER ()
                   * (POW(n_s, {MIX_ALPHA}) / SUM(POW(n_s, {MIX_ALPHA})) OVER ())
                   / n_s) AS rate
      FROM counted
    )
    SELECT r.source,
           CAST(r.n_s AS BIGINT) AS n_total,
           ROUND(r.p_s, 6) AS mix_p,
           ROUND(r.rate, 6) AS rate,
           CAST(COUNT(*) FILTER (WHERE d.u < r.rate) AS BIGINT) AS n_kept
    FROM rated r JOIN docs d ON d.source = r.source
    GROUP BY r.source, r.n_s, r.p_s, r.rate
    """,
    doc="Temperature-based mixture sampling (the multilingual data-mixing "
    "rule of XLM-R / mT5: sample source s with probability proportional "
    "to n_s^alpha, alpha<1 up-weighting low-resource sources): per-source "
    "counts -> alpha-power mixture weights -> per-source acceptance rate "
    "min(1, budget*N*p_s/n_s) -> deterministic md5 acceptance gate per "
    "document (reproducible, resume-safe — no rand()). Scale shape: the "
    "rate table is source-cardinality-sized (computed via an "
    "unpartitioned window over the aggregate, corpus never re-scanned "
    "for totals) and broadcasts back; the accept decision is a map-side "
    "filter; kept counts partial-aggregate.",
    tags=("text", "llm", "sampling"),
)
def text_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    u = (
        _h32(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 1000000
    ) / F.lit(1000000.0)
    docs = d.withColumn("u", u)
    counted = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n_s")
    )
    w = Window.partitionBy()
    pw = F.pow(F.col("n_s"), MIX_ALPHA)
    p_s = pw / F.sum(pw).over(w)
    rate = F.least(
        F.lit(1.0), MIX_BUDGET * F.sum("n_s").over(w) * p_s / F.col("n_s")
    )
    rated = counted.select("source", "n_s", p_s.alias("p_s"), rate.alias("rate"))
    # the source-cardinality-sized rate table broadcasts back onto the
    # corpus; the accept decision is map-side and kept counts
    # partial-aggregate — per-source state never holds per-doc values
    return (
        docs.join(F.broadcast(rated), "source")
        .groupBy("source", "n_s", "p_s", "rate")
        .agg(
            F.count(F.when(F.col("u") < F.col("rate"), 1))
            .cast("bigint")
            .alias("n_kept")
        )
        .select(
            "source",
            F.col("n_s").cast("bigint").alias("n_total"),
            F.round("p_s", 6).alias("mix_p"),
            F.round("rate", 6).alias("rate"),
            "n_kept",
        )
    )


# Frozen fasttext-style linear quality model: unigram weights + a
# length feature + bias, shipped with the pipeline exactly like a
# trained .bin would be (CCNet / GPT-3 quality filtering applies a
# FROZEN classifier at corpus scale; it never trains in the pipeline).
# Words missing from the table contribute 0 (OOV bucket).
QC_WEIGHTS = {
    "a": -0.05, "the": -0.05, "dup": -0.30, "slow": -0.22,
    "small": -0.12, "big": -0.08, "data": 0.04, "query": 0.16,
    "join": 0.14, "hash": 0.11, "merge": 0.12, "sort": 0.09,
    "filter": 0.10, "agg": 0.13, "window": 0.15, "stream": 0.12,
    "vector": 0.18, "spark": 0.20, "scan": 0.07, "batch": 0.06,
}
QC_BIAS = -0.8
QC_LEN_WEIGHT = 0.012  # per-token length feature


@register(
    "text_quality_classifier",
    # the oracle joins the identical frozen VALUES weight table and
    # recomputes the linear score + sigmoid, so every per-doc score and
    # label is hash-gated
    oracle=f"""
    WITH w(word, wt) AS (VALUES {", ".join(f"('{k}', CAST({v} AS DOUBLE))" for k, v in sorted(QC_WEIGHTS.items()))}),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    toks_f AS (SELECT * FROM toks WHERE word <> ''),
    perdoc AS (
      SELECT t.doc_id,
             COUNT(*) AS n_tokens,
             SUM(COALESCE(w.wt, 0)) AS wsum
      FROM toks_f t LEFT JOIN w ON w.word = t.word
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens,
           ROUND({QC_BIAS} + wsum + {QC_LEN_WEIGHT} * n_tokens, 6) AS score,
           ROUND(1.0 / (1.0 + exp(-({QC_BIAS} + wsum + {QC_LEN_WEIGHT} * n_tokens))), 6)
               AS prob,
           ({QC_BIAS} + wsum + {QC_LEN_WEIGHT} * n_tokens) >= 0 AS keep
    FROM perdoc
    """,
    doc="Quality-classifier inference (the CCNet / GPT-3 filtering step: "
    "score every document with a FROZEN fasttext-style linear model and "
    "keep the high-quality side): unigram weights + a length feature + "
    "bias -> sigmoid -> threshold. Scale shape: the weight table is "
    "model-sized and broadcasts (at real vocab sizes it is the hashed "
    "embedding matrix, still MBs); scoring is one token explode + "
    "broadcast join + per-doc partial aggregate — map-side, no corpus "
    "shuffle beyond the per-doc groupBy; the keep decision is stateless.",
    tags=("text", "llm", "quality"),
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    wdf = F.broadcast(
        literal_df(spark, sorted(QC_WEIGHTS.items()), StructType.fromDDL("word STRING, wt DOUBLE"))
    )
    perdoc = (
        toks.join(wdf, "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("wt"), F.lit(0.0))).alias("wsum"),
        )
    )
    raw = QC_BIAS + F.col("wsum") + QC_LEN_WEIGHT * F.col("n_tokens")
    return perdoc.select(
        "doc_id",
        "n_tokens",
        F.round(raw, 6).alias("score"),
        F.round(1.0 / (1.0 + F.exp(-raw)), 6).alias("prob"),
        (raw >= 0).alias("keep"),
    )


# --- RAG chunking: overlapping token windows --------------------------------
CHUNK_W = 32  # window (tokens per chunk)
CHUNK_S = 24  # stride (tokens) -> CHUNK_W - CHUNK_S = 8 tokens of overlap


@register(
    "text_chunk_overlap",
    oracle=f"""
    SELECT doc_id, gs AS chunk_start,
           CAST(least(len(toks) - gs, {CHUNK_W}) AS BIGINT) AS n_tokens,
           array_to_string(toks[gs+1:gs+{CHUNK_W}], ' ') AS chunk_text
    FROM (SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS toks
          FROM documents),
         LATERAL (SELECT unnest(generate_series(0, len(toks)-1, {CHUNK_S})) AS gs) t
    """,
    doc="RAG-prep chunking: overlapping token windows "
    f"(W={CHUNK_W}, stride={CHUNK_S}) per document, entirely JVM-side "
    "(split/sequence/posexplode/slice, no Python). Embarrassingly "
    "map-side: chunking never shuffles — at 100 TB it pipelines straight "
    "into the embedding/packing stage on the scan partitioning.",
    tags=("text", "llm"),
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), " +")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(CHUNK_S)
    )
    return (
        d.select("doc_id", toks.alias("toks"))
        .select("doc_id", "toks", F.explode(starts).alias("chunk_start"))
        .select(
            "doc_id",
            F.col("chunk_start").cast("bigint").alias("chunk_start"),
            F.least(F.size("toks") - F.col("chunk_start"), F.lit(CHUNK_W))
            .cast("bigint")
            .alias("n_tokens"),
            F.concat_ws(
                " ", F.slice(F.col("toks"), F.col("chunk_start") + 1, F.lit(CHUNK_W))
            ).alias("chunk_text"),
        )
    )


@register(
    "text_chunk_dedup_rate",
    oracle=f"""
    WITH chunks AS (
        SELECT doc_id, md5(array_to_string(toks[gs+1:gs+{CHUNK_W}], ' ')) AS chunk_key
        FROM (SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS toks
              FROM documents),
             LATERAL (SELECT unnest(generate_series(0, len(toks)-1, {CHUNK_S})) AS gs) t),
    freq AS (SELECT chunk_key, count(*) AS n_occ FROM chunks GROUP BY 1)
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
           ROUND(SUM(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
               AS dup_rate
    FROM chunks c JOIN freq f USING (chunk_key) JOIN documents d USING (doc_id)
    GROUP BY 1
    """,
    doc="chunk-level duplicate-rate report per source: the RAG-corpus "
    "counterpart of dedup_exact — chunks digest to md5 MAP-SIDE so the "
    "frequency shuffle and self-join carry 32-byte keys, never chunk "
    "text. Composes text_chunk_overlap's window spec; at 100 TB this is "
    "the boilerplate-contamination dashboard per crawl source.",
    tags=("text", "dedup", "llm"),
)
def text_chunk_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), " +")
    starts = F.sequence(F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(CHUNK_S))
    chunks = (
        d.select("doc_id", toks.alias("toks"))
        .select("doc_id", "toks", F.explode(starts).alias("cs"))
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(" ", F.slice(F.col("toks"), F.col("cs") + 1, F.lit(CHUNK_W)))
            ).alias("chunk_key"),
        )
    )
    chunks = scoped_persist(chunks)
    freq = chunks.groupBy("chunk_key").agg(F.count(F.lit(1)).alias("n_occ"))
    dup = F.sum((F.col("n_occ") > 1).cast("long"))
    return (
        chunks.join(freq, "chunk_key")
        .join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            dup.alias("dup_chunks"),
            F.round(dup / F.count(F.lit(1)), 6).alias("dup_rate"),
        )
    )


@register(
    "sample_weighted_bernoulli",
    oracle="""
    WITH wmax AS (SELECT MAX(n_chars) AS wm FROM documents),
    scored AS (
        SELECT doc_id, source, n_chars,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   AS u32,
               n_chars * 1.0 / wm AS p
        FROM documents, wmax)
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars, ROUND(p, 6) AS p
    FROM scored WHERE u32 < floor(p * 4294967296.0)
    """,
    doc="deterministic weighted Bernoulli subsampling: keep each document "
    "with probability proportional to its weight (here n_chars / max) "
    "using an md5-derived 32-bit uniform — reproducible across runs AND "
    "engines because the accept test is one IEEE multiply + floor + "
    "integer compare (no libm). Entirely map-side after a 1-row scalar "
    "broadcast of the weight normalizer (the DSIR totals pattern); the "
    "quality-weighted corpus-thinning op of a training-data pipeline.",
    tags=("text", "llm", "sampling"),
)
def sample_weighted_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    wm = d.agg(F.max("n_chars").alias("wm"))
    u32 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    p = F.col("n_chars") * F.lit(1.0) / F.col("wm")
    return (
        d.crossJoin(F.broadcast(wm))
        .where(u32 < F.floor(p * F.lit(4294967296.0)))
        .select("doc_id", "source", "n_chars", F.round(p, 6).alias("p"))
    )


@register(
    "text_entropy_filter",
    oracle="""
    WITH chars AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '')) AS ch
        FROM documents),
    freq AS (
        SELECT doc_id, ch, count(*) AS k FROM chars WHERE ch <> '' GROUP BY 1, 2),
    tot AS (SELECT doc_id, SUM(k) AS n FROM freq GROUP BY 1)
    SELECT f.doc_id,
           ROUND(-SUM((k * 1.0 / n) * ln(k * 1.0 / n) / ln(2)), 6) AS entropy_bits,
           CAST(any_value(n) AS BIGINT) AS n_chars,
           CAST(-SUM((k * 1.0 / n) * ln(k * 1.0 / n) / ln(2)) >= 3.0 AS INT) AS keep
    FROM freq f JOIN tot USING (doc_id) GROUP BY 1
    """,
    doc="character-entropy quality filter (the Gopher/C4-style gibberish "
    "and repetition screen): per-document Shannon entropy over the "
    "character distribution — two partial-aggregation passes, both "
    "map-side combinable (per-doc char histogram is bounded by the "
    "alphabet); low-entropy docs (repetition) and pathological "
    "high-entropy byte soup both separate from prose. keep gates at "
    ">= 3.0 bits.",
    tags=("text", "llm", "quality"),
)
def text_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), "")).alias("ch")
    ).where(F.col("ch") != "")
    freq = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("k"))
    tot = freq.groupBy("doc_id").agg(F.sum("k").alias("n"))
    pk = F.col("k") * F.lit(1.0) / F.col("n")
    ent = -F.sum(pk * F.log(pk) / F.log(F.lit(2.0)))
    return (
        freq.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.round(ent, 6).alias("entropy_bits"),
            F.first("n").alias("n_chars"),
            (ent >= 3.0).cast("int").alias("keep"),
        )
    )


SPLIT_SALT = "split:"  # keyspace-separates the split hash from other md5 uses


@register(
    "docs_train_val_split",
    oracle=f"""
    SELECT doc_id, source, split FROM (
        SELECT doc_id, source,
               CASE WHEN bucket < 90 THEN 'train'
                    WHEN bucket < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id, source,
                     CAST(('0x' || substr(md5('{SPLIT_SALT}' || CAST(doc_id AS VARCHAR)),
                                          1, 8)) AS BIGINT) % 100 AS bucket
              FROM documents))
    """,
    doc="deterministic train/val/test split (90/5/5): each document's "
    "fate is a pure function of a salted md5 of its id — reproducible "
    "across runs, engines and reshuffles, immune to input order, and "
    "map-side with zero shuffles. The salt keyspace-separates this hash "
    "from every other md5 use so adding a new hash-gated op can never "
    "correlate with the split.",
    tags=("text", "llm", "sampling"),
)
def docs_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(SPLIT_SALT), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    split = (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return d.select("doc_id", "source", split.alias("split"))


@register(
    "text_idf_rarity_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_distinct(string_split_regex(trim(lower(text)), ' +'))) AS tok
        FROM documents),
    ndocs AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
    idf AS (
        SELECT tok, ln((SELECT nd FROM ndocs) * 1.0 / count(DISTINCT doc_id)) AS idf
        FROM toks GROUP BY 1)
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_distinct_tokens,
           ROUND(AVG(i.idf), 6) AS rarity
    FROM toks t JOIN idf i USING (tok) GROUP BY 1
    """,
    doc="document rarity score: mean idf of each document's distinct "
    "tokens — boilerplate scores low, rare-term documents high; the "
    "typicality axis of corpus curation (complements tf-idf's per-term "
    "view). One token-level shuffle builds the idf table (vocabulary-"
    "bounded); the doc-count normalizer is a 1-row broadcast.",
    tags=("text", "llm", "quality"),
)
def text_idf_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), " +"))
        ).alias("tok"),
    )
    toks = scoped_persist(toks)
    nd = d.agg(F.count(F.lit(1)).alias("nd"))
    idf = (
        toks.groupBy("tok")
        .agg(F.count_distinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(nd))
        .select("tok", F.log(F.col("nd") * F.lit(1.0) / F.col("df")).alias("idf"))
    )
    return (
        toks.join(idf, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.round(F.avg("idf"), 6).alias("rarity"),
        )
    )


PACK_SEQ_LEN = 512  # packing target for the RAG-prep summary


@register(
    "pipeline_rag_prep",
    oracle=f"""
    WITH chunks AS (
        SELECT doc_id, gs AS chunk_start,
               CAST(least(len(toks) - gs, {CHUNK_W}) AS BIGINT) AS n_tokens,
               md5(array_to_string(toks[gs+1:gs+{CHUNK_W}], ' ')) AS chunk_key
        FROM (SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS toks
              FROM documents),
             LATERAL (SELECT unnest(generate_series(0, len(toks)-1, {CHUNK_S})) AS gs) t),
    split AS (
        SELECT doc_id,
               CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id,
                     CAST(('0x' || substr(md5('{SPLIT_SALT}'
                                              || CAST(doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) % 100 AS b
              FROM documents)),
    keep AS (
        SELECT c.n_tokens, s.split,
               ROW_NUMBER() OVER (PARTITION BY c.chunk_key, s.split
                                  ORDER BY c.doc_id, c.chunk_start) AS occ
        FROM chunks c JOIN split s USING (doc_id))
    SELECT split, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
           CAST(SUM(CASE WHEN occ = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
               AS kept_tokens,
           CAST(ceil(SUM(CASE WHEN occ = 1 THEN n_tokens ELSE 0 END)
                     / {PACK_SEQ_LEN}.0) AS BIGINT) AS packed_seqs
    FROM keep GROUP BY 1
    """,
    doc="the RAG data path end-to-end as ONE plan: overlapping-window "
    "chunking (map-side) -> deterministic train/val/test hash split "
    "(map-side) -> per-split first-occurrence chunk dedup (one shuffle "
    "on the 32-byte chunk digest; dedup is split-scoped so eval sets "
    "never leak training text) -> packed-sequence budget summary. "
    "Composes the gated chunker/split/dedup semantics verbatim.",
    tags=("text", "llm", "pipeline"),
)
def pipeline_rag_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), " +")
    starts = F.sequence(F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(CHUNK_S))
    chunks = (
        d.select("doc_id", toks.alias("toks"))
        .select("doc_id", "toks", F.explode(starts).alias("cs"))
        .select(
            "doc_id",
            F.col("cs").alias("chunk_start"),
            F.least(F.size("toks") - F.col("cs"), F.lit(CHUNK_W))
            .cast("bigint")
            .alias("n_tokens"),
            F.md5(
                F.concat_ws(" ", F.slice(F.col("toks"), F.col("cs") + 1, F.lit(CHUNK_W)))
            ).alias("chunk_key"),
        )
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(SPLIT_SALT), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    split = d.select(
        "doc_id",
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    w_occ = Window.partitionBy("chunk_key", "split").orderBy("doc_id", "chunk_start")
    keep = chunks.join(split, "doc_id").withColumn("occ", F.row_number().over(w_occ))
    kept = F.sum((F.col("occ") == 1).cast("long"))
    kept_toks = F.sum(F.when(F.col("occ") == 1, F.col("n_tokens")).otherwise(F.lit(0)))
    return keep.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        kept.alias("kept_chunks"),
        kept_toks.alias("kept_tokens"),
        F.ceil(kept_toks / F.lit(float(PACK_SEQ_LEN))).alias("packed_seqs"),
    )


@register(
    "text_gopher_quality_rules",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               string_split_regex(trim(lower(text)), ' +') AS t
        FROM documents),
    m AS (
        SELECT doc_id, source,
               len(t) AS n_words,
               ROUND(length(array_to_string(t, '')) * 1.0 / len(t), 4)
                   AS mean_word_len,
               len(list_filter(t, w -> regexp_matches(w, '[a-z]')))
                   AS n_alpha_words,
               len(list_intersect(t, {_STOP_SQL})) AS n_stop
        FROM toks)
    SELECT doc_id, source, n_words, mean_word_len,
           CAST(n_words >= 50 AND n_words <= 100000 AS INT) AS ok_word_count,
           CAST(mean_word_len >= 3 AND mean_word_len <= 10 AS INT) AS ok_mean_len,
           CAST(n_alpha_words * 10 >= n_words * 8 AS INT) AS ok_alpha_ratio,
           CAST(n_stop >= 2 AS INT) AS ok_stopwords,
           CAST(n_words >= 50 AND n_words <= 100000
                AND mean_word_len >= 3 AND mean_word_len <= 10
                AND n_alpha_words * 10 >= n_words * 8
                AND n_stop >= 2 AS INT) AS gopher_pass
    FROM m
    """,
    doc="Gopher quality-filter rule set (Rae et al. 2021, public spec): "
    "word-count bounds [50, 100k], mean word length in [3, 10], >=80% of "
    "words containing an alphabetic character, and >=2 distinct-position "
    "DISTINCT stop words from the fixed list — each rule surfaced as its own flag plus the composite "
    "pass verdict, so downstream can audit WHICH rule rejected a "
    "document. Entirely map-side JVM expressions (split + array lambdas, "
    "no shuffle, no Python); the alpha-ratio test is the integer "
    "cross-multiply n_alpha*10 >= n_words*8 so the gate has no float "
    "boundary. At 100 TB this is one narrow projection over the corpus "
    "scan. Complements text_quality_score (soft score) and "
    "text_repetition_filter / text_entropy_filter (other reject axes).",
    tags=("text", "llm-pipeline"),
)
def text_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = F.split(F.trim(F.lower(F.col("text"))), " +")
    toks = d.select("doc_id", "source", t.alias("t"))
    n_words = F.size("t")
    mean_len = F.round(
        F.length(F.array_join("t", "")) * F.lit(1.0) / F.size("t"), 4
    )
    n_alpha = F.size(F.filter(F.col("t"), lambda w: w.rlike("[a-z]")))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.array_intersect(F.col("t"), stop_arr))
    m = toks.select(
        "doc_id",
        "source",
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        n_alpha.alias("n_alpha_words"),
        n_stop.alias("n_stop"),
    )
    ok_wc = (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
    ok_ml = (F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10)
    ok_ar = F.col("n_alpha_words") * 10 >= F.col("n_words") * 8
    ok_sw = F.col("n_stop") >= 2
    return m.select(
        "doc_id",
        "source",
        "n_words",
        "mean_word_len",
        ok_wc.cast("int").alias("ok_word_count"),
        ok_ml.cast("int").alias("ok_mean_len"),
        ok_ar.cast("int").alias("ok_alpha_ratio"),
        ok_sw.cast("int").alias("ok_stopwords"),
        (ok_wc & ok_ml & ok_ar & ok_sw).cast("int").alias("gopher_pass"),
    )


WIN_K = 3  # k-gram size (tokens) for winnowing
WIN_W = 4  # window of consecutive k-grams per fingerprint selection


@register(
    "text_winnowing_fingerprint",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
        FROM documents),
    kg AS (
        SELECT doc_id, u.pos,
               md5(array_to_string(t[u.pos : u.pos + {WIN_K} - 1], ' ')) AS h,
               len(t) - {WIN_K} + 1 AS maxpos
        FROM toks,
             LATERAL (SELECT unnest(generate_series(1, len(t) - {WIN_K} + 1))
                      AS pos) u
        WHERE len(t) >= {WIN_K}),
    win AS (
        SELECT kg.doc_id, w.j, kg.pos, kg.h,
               ROW_NUMBER() OVER (PARTITION BY kg.doc_id, w.j
                                  ORDER BY kg.h ASC, kg.pos DESC) AS rn
        FROM kg JOIN LATERAL (SELECT unnest(generate_series(
                 GREATEST(1, kg.pos - {WIN_W} + 1), kg.pos)) AS j) w ON TRUE
        WHERE w.j + {WIN_W} - 1 <= kg.maxpos),
    sel AS (
        SELECT DISTINCT doc_id, pos, h FROM win WHERE rn = 1)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_fingerprints,
           MIN(h) AS min_fp,
           md5(string_agg(h, '' ORDER BY pos)) AS fp_digest
    FROM sel GROUP BY 1
    """,
    doc="winnowing document fingerprints (Schleimer, Wilkerson, Aiken "
    f"2003 — the MOSS algorithm, public): {WIN_K}-token k-gram md5 "
    f"hashes, then every window of {WIN_W} consecutive k-grams selects "
    "its minimum hash (rightmost on ties); the union of selections is "
    "the fingerprint set, which guarantees any match of length >= "
    f"{WIN_W + WIN_K - 1} tokens shares a fingerprint. Expressed as a "
    f"bounded {WIN_W}x explode of k-gram rows onto the windows covering "
    "them + one (doc, window) argmin shuffle — all map-side JVM "
    "expressions (split/slice/md5), hashes compared as hex strings so "
    "both engines order identically. Per-doc output: fingerprint count, "
    "min fingerprint, and a digest of the position-ordered fingerprint "
    "sequence (so the gate pins the exact selected SET, not just its "
    "size). At 100 TB the fan-out is w x token-count, linear in corpus "
    "size with a small constant.",
    tags=("text", "llm-pipeline", "dedup"),
)
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), " +").alias("t")
    ).where(F.size("t") >= WIN_K)
    # k-gram rows: pos is 1-based start token index
    kg = toks.select(
        "doc_id",
        F.size("t").alias("nt"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - WIN_K + 1),
                lambda p: F.md5(F.array_join(F.slice("t", p, WIN_K), " ")),
            )
        ).alias("p0", "h"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("pos"),
        "h",
        (F.col("nt") - WIN_K + 1).alias("maxpos"),
    )
    # each k-gram participates in windows j = pos-w+1 .. pos (clamped to
    # fully-inside-doc windows), a bounded w-way explode
    win = kg.select(
        "doc_id",
        "pos",
        "h",
        "maxpos",
        F.explode(
            F.sequence(F.greatest(F.lit(1), F.col("pos") - WIN_W + 1), F.col("pos"))
        ).alias("j"),
    ).where(F.col("j") + WIN_W - 1 <= F.col("maxpos"))
    w = Window.partitionBy("doc_id", "j").orderBy(F.asc("h"), F.desc("pos"))
    sel = (
        win.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "pos", "h")
        .distinct()
    )
    return sel.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.min("h").alias("min_fp"),
        F.md5(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("h")))
                ).getField("h"),
                "",
            )
        ).alias("fp_digest"),
    )


@register(
    "text_langclass_contingency",
    oracle="""
    WITH pred AS (
        SELECT lang,
               CASE WHEN vr < 0.34 THEN 'consonantal'
                    WHEN vr < 0.38 THEN 'balanced'
                    ELSE 'vocalic' END AS char_class
        FROM (SELECT lang,
                     ROUND(len(regexp_extract_all(lower(text), '[aeiou]')) * 1.0
                           / GREATEST(len(regexp_extract_all(lower(text), '[a-z]')),
                                      1), 4) AS vr
              FROM documents)),
    cells AS (
        SELECT lang, char_class, CAST(count(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2)
    SELECT lang, char_class, n,
           CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY lang), 4) AS frac,
           CAST(n = MAX(n) OVER (PARTITION BY lang) AS INT) AS is_majority
    FROM cells
    """,
    doc="classifier-evaluation contingency table: the text_lang_id "
    "char-class heuristic crossed with the labeled lang column — per "
    "(lang, predicted class) counts, within-lang fractions and the "
    "majority flag, i.e. the confusion/purity readout that decides "
    "whether a cheap heuristic can gate a 100 TB corpus before the "
    "expensive model runs. Map-side classification, one shuffle of "
    "langs x classes cells; the fraction windows run over the bounded "
    "contingency table. Integer counts make the gate exact.",
    tags=("text", "llm-pipeline", "eval"),
)
def text_langclass_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    vowels = F.size(F.regexp_extract_all(low, F.lit("[aeiou]"), 0))
    letters = F.greatest(
        F.size(F.regexp_extract_all(low, F.lit("[a-z]"), 0)), F.lit(1)
    )
    vr = F.round(vowels * F.lit(1.0) / letters, 4)
    pred = d.select(
        "lang",
        F.when(vr < 0.34, "consonantal")
        .when(vr < 0.38, "balanced")
        .otherwise("vocalic")
        .alias("char_class"),
    )
    cells = pred.groupBy("lang", "char_class").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "char_class",
        "n",
        F.sum("n").over(w).alias("lang_total"),
        F.round(F.col("n") * F.lit(1.0) / F.sum("n").over(w), 4).alias("frac"),
        (F.col("n") == F.max("n").over(w)).cast("int").alias("is_majority"),
    )


OOV_VOCAB_SIZES = [100, 500, 1000, 5000]


@register(
    "text_oov_rate_curve",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split_regex(trim(lower(text)), ' +')) AS t
        FROM documents),
    freq AS (
        SELECT t, CAST(count(*) AS BIGINT) AS n,
               ROW_NUMBER() OVER (ORDER BY count(*) DESC, t ASC) AS rk
        FROM tok GROUP BY 1),
    total AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM freq),
    vs AS (SELECT unnest({OOV_VOCAB_SIZES}) AS vocab_size)
    SELECT v.vocab_size,
           CAST(LEAST(v.vocab_size, (SELECT count(*) FROM freq)) AS BIGINT)
               AS vocab_used,
           CAST((SELECT tot FROM total)
                - COALESCE(SUM(f.n) FILTER (WHERE f.rk <= v.vocab_size), 0)
                AS BIGINT) AS oov_tokens,
           ROUND(((SELECT tot FROM total)
                - COALESCE(SUM(f.n) FILTER (WHERE f.rk <= v.vocab_size), 0))
                * 1.0 / (SELECT tot FROM total), 6) AS oov_rate
    FROM vs v LEFT JOIN freq f ON TRUE
    GROUP BY 1
    """,
    doc="out-of-vocabulary rate curve: for candidate vocabulary sizes "
    f"{OOV_VOCAB_SIZES}, the fraction of corpus tokens NOT covered by "
    "the top-V most frequent words (ties broken by token) — the "
    "coverage readout that sizes a tokenizer/embedding table before "
    "training. One token-frequency shuffle (map-side combine, "
    "vocabulary-bounded output); the ranking window and the V-probe "
    "join run over the BOUNDED frequency table, so corpus volume only "
    "touches the first rollup. Integer token counts make the gate "
    "exact (rate rounds at 6dp from an integer ratio).",
    tags=("text", "llm-pipeline"),
)
def text_oov_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("t")
    )
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("t"))
    from . import scoped_persist

    ranked = scoped_persist(freq.withColumn("rk", F.row_number().over(w)))
    total = ranked.agg(
        F.sum("n").alias("tot"), F.count(F.lit(1)).alias("n_vocab")
    )
    vs = literal_df(spark, [(v,) for v in OOV_VOCAB_SIZES], StructType.fromDDL("vocab_size int"))
    covered = (
        F.broadcast(vs)
        .join(ranked, F.col("rk") <= F.col("vocab_size"), "left")
        .groupBy("vocab_size")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("cov"))
    )
    return (
        covered.crossJoin(F.broadcast(total))
        .select(
            "vocab_size",
            F.least(F.col("vocab_size").cast("long"), F.col("n_vocab")).alias(
                "vocab_used"
            ),
            (F.col("tot") - F.col("cov")).alias("oov_tokens"),
            F.round(
                (F.col("tot") - F.col("cov")) * F.lit(1.0) / F.col("tot"), 6
            ).alias("oov_rate"),
        )
    )


PMI_MIN_COUNT = 20
PMI_TOPK = 25


@register(
    "text_ngram_collocations_pmi",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
        FROM documents),
    bigrams AS (
        SELECT t[u.i] AS w1, t[u.i + 1] AS w2
        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1))
                            AS i) u),
    bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
           FROM bigrams GROUP BY 1, 2),
    ug AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
               SELECT w1 AS w FROM bigrams
               UNION ALL SELECT w2 FROM bigrams) GROUP BY 1),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM bigrams),
    scored AS (
        SELECT bg.w1, bg.w2, bg.c_xy,
               ROUND(ln(2.0 * bg.c_xy * (SELECT total FROM n)
                     / (ua.c * 1.0 * ub.c)), 5) AS pmi
        FROM bg JOIN ug ua ON ua.w = bg.w1 JOIN ug ub ON ub.w = bg.w2
        WHERE bg.c_xy >= {PMI_MIN_COUNT}),
    ranked AS (
        SELECT w1, w2, c_xy, pmi,
               ROW_NUMBER() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rk
        FROM scored)
    SELECT CAST(rk AS INT) AS rk, w1, w2, c_xy, pmi
    FROM ranked WHERE rk <= {PMI_TOPK}
    """,
    doc="PMI collocation mining (phrase detection, the word2vec-phrases/"
    "NLTK recipe): bigram and unigram counts from one pass over the "
    "corpus (map-side combine on both rollups), PMI = ln(2 N c_xy / "
    f"(c_x c_y)) for bigrams seen >= {PMI_MIN_COUNT} times, top-"
    f"{PMI_TOPK} by (rounded PMI, w1, w2). Unigram counts are "
    "bigram-endpoint counts so the numerator/denominator use one "
    "consistent sample space; all inputs to ln() are identical exact "
    "integers on both engines, so the only float is the final log of "
    "the same double — deterministic. The unigram join sides are "
    "vocabulary-bounded broadcasts at scale.",
    tags=("text", "llm-pipeline"),
)
def text_ngram_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.split(F.trim(F.lower(F.col("text"))), " +").alias("t"))
    # a 1-token doc makes sequence(1, 0) DESCENDING ([1, 0]) and
    # element_at(t, 0) a runtime error, where DuckDB's generate_series(1,0)
    # is simply empty — filter the degenerate docs out before the
    # transform (same guard shape as text_winnowing_fingerprint)
    toks = toks.where(F.size("t") >= 2)
    bigrams = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("w1"),
                    F.element_at("t", i + 1).alias("w2"),
                ),
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    from . import scoped_persist

    bigrams = scoped_persist(bigrams)
    bg = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    ug = (
        bigrams.select(F.col("w1").alias("w"))
        .unionAll(bigrams.select(F.col("w2").alias("w")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = bigrams.agg(F.count(F.lit(1)).alias("total"))
    ua = ug.select(F.col("w").alias("w1"), F.col("c").alias("ca"))
    ub = ug.select(F.col("w").alias("w2"), F.col("c").alias("cb"))
    scored = (
        bg.where(F.col("c_xy") >= PMI_MIN_COUNT)
        .join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.log(
                    2.0
                    * F.col("c_xy")
                    * F.col("total")
                    / (F.col("ca") * F.lit(1.0) * F.col("cb"))
                ),
                5,
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")).limit(PMI_TOPK)
    w = Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("rk", F.row_number().over(w).cast("int")).select(
        "rk", "w1", "w2", "c_xy", "pmi"
    )


ZIPF_TOPN = 500


@register(
    "text_zipf_fit",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split_regex(trim(lower(text)), ' +')) AS t
        FROM documents),
    freq AS (
        SELECT t, CAST(count(*) AS BIGINT) AS n,
               ROW_NUMBER() OVER (ORDER BY count(*) DESC, t ASC) AS rk
        FROM tok GROUP BY 1),
    pts AS (
        SELECT ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y
        FROM freq WHERE rk <= {ZIPF_TOPN}),
    sums AS (
        SELECT CAST(count(*) AS BIGINT) AS m, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM pts)
    SELECT m AS n_points,
           ROUND((m * sxy - sx * sy) / (m * sxx - sx * sx), 5) AS zipf_slope,
           ROUND((sy / m) - ((m * sxy - sx * sy) / (m * sxx - sx * sx))
                 * (sx / m), 5) AS log_intercept
    FROM sums
    """,
    doc="Zipf's-law fit of the word-frequency distribution: OLS slope of "
    f"ln(freq) on ln(rank) over the top-{ZIPF_TOPN} vocabulary — the "
    "corpus-health readout (natural text sits near slope -1; synthetic "
    "or template-heavy corpora flatten). The frequency table and "
    "ranking are vocabulary-bounded; the log-log points are identical "
    "doubles on both engines (logs of the same exact integers), so the "
    "closed-form sums differ only by fold order (~1e-13) against a "
    "5dp round. One corpus-scan rollup, everything after is bounded.",
    tags=("text", "llm-pipeline"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("t")
    )
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("t"))
    pts = (
        freq.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= ZIPF_TOPN)
        .select(
            F.log(F.col("rk").cast("double")).alias("x"),
            F.log(F.col("n").cast("double")).alias("y"),
        )
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("m").alias("n_points"),
        F.round(slope, 5).alias("zipf_slope"),
        F.round(
            (F.col("sy") / F.col("m")) - slope * (F.col("sx") / F.col("m")), 5
        ).alias("log_intercept"),
    )
