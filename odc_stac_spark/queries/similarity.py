"""Similarity search over embedding columns (``array<float>``).

- brute-force cosine top-k: the correctness baseline. Queries are tiny →
  broadcast; the scan side streams once. Every cosine is one SQL text
  (``operators/kmeans.cos_sql``): a JVM-side ``zip_with``/``aggregate``
  fold — interpreted lambdas, not whole-stage codegen, but no Python and
  one parser call per column. Every per-key top-k is :func:`_top_k`.
- IVF-style ANN (see :func:`ann_ivf_topk`): coarse-quantize every vector to
  its nearest of K centroids (one broadcast join), probe only the
  ``NPROBE`` closest clusters per query. At 100 TB this turns a full scan
  per query into a fraction ``NPROBE/K`` of the data, and the cluster
  assignment is a one-off write (bucketed/partitioned by cluster id).

Determinism: all arithmetic is float64 left-fold (Spark ``aggregate`` and
DuckDB ``list_dot_product`` over ``DOUBLE[]`` both reduce sequentially), so
scores match the oracle bit-for-bit before rounding.
"""

from __future__ import annotations

import hashlib
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.kmeans import (
    DEFAULT_CELL_CAP,
    assign_to_centroids,
    centroid_array,
    centroids_df,
    cos_sql,
    kmeans_fit,
    norm_sql,
)
from ..session import sql_literal
from ..sources.tables import load_table
from . import register, scoped_persist

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
NEARDUP_COS = 0.45  # synthetic data max-cos ≈ 0.51; real corpora use ~0.95
IVF_K = 16
IVF_NPROBE = 4
KM_FIT_STRIDE = 4  # kmeans fit sees vec_id % 4 == 0 only (fit-on-sample gate)


def _vecd(col):
    return F.transform(col, lambda x: x.cast("double"))


def _top_k(df: DataFrame, key: str, score: str, id_col: str, k: int) -> DataFrame:
    """``df`` plus ``rn``, keeping the top ``k`` rows per ``key`` by
    (``score`` DESC, ``id_col`` ASC) — the oracles' ROW_NUMBER order, so
    tied scores keep the lower id and a key with fewer than ``k`` rows
    keeps them all.

    The rank window with an ``rn <= k`` filter is the whole operator:
    Spark 4's InferWindowGroupLimit plants a partial WindowGroupLimit
    below the window's exchange, so the shuffle carries at most
    partitions × keys × k rows, with no Python stage."""
    w = f"row_number() OVER (PARTITION BY {key} ORDER BY {score} DESC, {id_col} ASC) AS rn"
    return df.selectExpr("*", w).where(f"rn <= {int(k)}")


@register(
    "knn_bruteforce_cosine",
    oracle=f"""
    SELECT query_id, neighbor_id, cos, rn FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               ROUND(list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))),
                     6) AS cos,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
                            / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                               * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) DESC,
                            e.vec_id) AS rn
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    ) WHERE rn <= {TOP_K}
    """,
    doc="brute-force cosine top-k ANN baseline: broadcast queries × scan, "
    "JVM zip_with/aggregate dot products, per-query window top-k.",
    tags=("similarity",),
)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.where(f"vec_id < {N_QUERIES}").selectExpr("vec_id AS query_id", "emb AS qemb")
    e = emb.selectExpr("vec_id AS neighbor_id", "emb AS eemb")
    scored = (
        F.broadcast(q)
        .crossJoin(e)
        .where("neighbor_id != query_id")
        .selectExpr("query_id", "neighbor_id", f"{cos_sql('qemb', 'eemb')} AS cos_raw")
    )
    return _top_k(scored, "query_id", "cos_raw", "neighbor_id", TOP_K).selectExpr(
        "query_id", "neighbor_id", "round(cos_raw, 6) AS cos", "rn"
    )


NEARDUP_NPROBE = 4  # multi-assignment width for near-dup blocking


def _emb(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """(vec_id, *cols, emb double[]) — ``cols`` are further embeddings
    columns carried as they are, e.g. ``label`` — with compute-sized
    partitioning: the
    embeddings fixture is one row group, so the scan is ONE partition and
    every interpreted-HOF scoring pass (cosine/L2 folds, LSH signatures)
    downstream would serialize on one core — the pre-r13 window-based
    assignment re-parallelized it by accident; the r13 map-side
    assignment preserves input partitioning, so the input must be
    partitioned for the COMPUTE. At 100 TB maxPartitionBytes does this
    naturally and the repartition is a no-op in spirit (it moves raw
    vectors once, before any scoring)."""
    # repartition the RAW column first, project after (r17): a projection
    # below the exchange runs in the scan stage — ONE task for the
    # single-row-group fixture — so the interpreted HOF cast serialized
    # there (event-log: 1-task stages of 1.4-2.0 s on the LSH variant);
    # above the exchange it runs 32-way, and the shuffle carries the same
    # raw vectors either way
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", *cols, "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", *cols, _vecd(F.col("embedding")).alias("emb"))
    )


def _first_cents(emb: DataFrame, k: int = IVF_K) -> DataFrame:
    """The fixed coarse quantizer: the first ``k`` vectors by id as
    ``(cent_id, cemb)`` centroids — the oracles' ``cent`` CTE."""
    return emb.where(f"vec_id < {int(k)}").selectExpr("vec_id AS cent_id", "emb AS cemb")


def _cells(emb: DataFrame, k: int) -> DataFrame:
    """(vec_id, emb, cent_id, nrm), persisted: every vector of ``emb``
    once per each of its NEARDUP_NPROBE nearest of the first ``k``
    vectors (:func:`_first_cents`), the blocking of the near-dup family.

    ``nrm`` is the vector's norm, computed once per assignment row and
    carried through the cent_id self-join of :func:`_cell_pairs`:
    recomputing it per PAIR tripled the per-pair fold work, and the
    unpersisted multi-assign subtree ran once per join side (together:
    28.5 → 1.6 s warm at sf0.1)."""
    assigned = assign_to_centroids(emb, _first_cents(emb, k), NEARDUP_NPROBE)
    return scoped_persist(assigned.selectExpr("*", f"{norm_sql('emb')} AS nrm"))


def _cell_pairs(cells: DataFrame, a: str, b: str, cond: str) -> DataFrame:
    """(a, b, cos) for every two rows of :func:`_cells` that share a cell
    and meet ``cond``: ``a`` and ``b`` name the two sides' vec_id. A pair
    sharing several cells comes out once per shared cell. ``na * nb``
    keeps the oracles' multiplication order, so cosines are
    bit-identical to per-pair norms."""
    x = cells.selectExpr("cent_id", f"vec_id AS {a}", "emb AS ea", "nrm AS na")
    y = cells.selectExpr("cent_id", f"vec_id AS {b}", "emb AS eb", "nrm AS nb")
    return (
        x.join(y, ["cent_id"])
        .where(cond)
        .selectExpr(a, b, f"{cos_sql('ea', 'eb', 'na', 'nb')} AS cos")
    )


def _neardup_pairs(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """(vec_a, vec_b, cos): pairs sharing one of their NEARDUP_NPROBE
    nearest of ``k`` cells with cosine >= NEARDUP_COS."""
    pairs = _cell_pairs(_cells(_emb(spark, sf_dir), k), "vec_a", "vec_b", "vec_a < vec_b")
    # a pair can share several cells; cos is deterministic so the
    # duplicate rows are identical — dedup after the cheap filter
    return (
        pairs.where(f"cos >= {sql_literal(NEARDUP_COS)}")
        .selectExpr("vec_a", "vec_b", "round(cos, 6) AS cos")
        .distinct()
    )


@register(
    "embedding_neardup_pairs",
    # oracle computes the IDENTICAL blocking (multi-assign to NEARDUP_NPROBE
    # cells, pairs sharing a cell, exact-cosine verify) so the gate is exact
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM emb WHERE vec_id < {IVF_K}),
    assigned AS (
      SELECT vec_id, emb, cent_id FROM (
        SELECT vec_id, emb, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cent_id) AS rn
        FROM (SELECT e.vec_id, e.emb, c.cent_id,
                     list_dot_product(e.emb, c.cemb)
                     / (sqrt(list_dot_product(e.emb, e.emb))
                        * sqrt(list_dot_product(c.cemb, c.cemb))) AS sim
              FROM emb e CROSS JOIN cent c)
      ) WHERE rn <= {NEARDUP_NPROBE}
    )
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.emb, b.emb)
                 / (sqrt(list_dot_product(a.emb, a.emb))
                    * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos
    FROM assigned a JOIN assigned b
      ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.emb, b.emb)
          / (sqrt(list_dot_product(a.emb, a.emb))
             * sqrt(list_dot_product(b.emb, b.emb))) >= {NEARDUP_COS}
    """,
    doc="embedding-cosine near-dup pairs, IVF-cell blocked: candidates are "
    "pairs sharing one of their NEARDUP_NPROBE nearest centroids (equi-join "
    "on cent_id — NO all-pairs theta join), then exact-cosine verify. At "
    "100 TB the assignment is a materialized table bucketed by cent_id, so "
    "the self-join is co-located; cost is sum of cell-size² not n².",
    tags=("similarity", "dedup"),
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _neardup_pairs(spark, sf_dir, IVF_K)


# production blocking rule (quantified by the r13 10×-scale probe: fixed
# IVF_K=16 makes neardup pair generation grow quadratically with the
# corpus — 2.8 s → 74.8 s at 10×): K grows with the corpus so the
# EXPECTED cell population stays at NEARDUP_TARGET_CELL and verify cost
# (sum of cell²) stays ~linear in n.
NEARDUP_TARGET_CELL = 16


def _neardup_k(n_vectors: int) -> int:
    """Smallest centroid count keeping expected cell size at
    NEARDUP_TARGET_CELL (floor IVF_K) — must match the oracle's
    GREATEST(IVF_K, CEIL(n / NEARDUP_TARGET_CELL))."""
    return max(IVF_K, -(-int(n_vectors) // NEARDUP_TARGET_CELL))


@register(
    "embedding_neardup_adaptive",
    # oracle computes the IDENTICAL adaptive K (scalar COUNT subquery),
    # blocking and exact-cosine verify, so the gate covers the K-rule too
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    par AS (SELECT GREATEST({IVF_K},
                   CAST(CEIL(COUNT(*) / {NEARDUP_TARGET_CELL}.0) AS BIGINT)) AS k
            FROM emb),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM emb
             WHERE vec_id < (SELECT k FROM par)),
    assigned AS (
      SELECT vec_id, emb, cent_id FROM (
        SELECT vec_id, emb, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cent_id) AS rn
        FROM (SELECT e.vec_id, e.emb, c.cent_id,
                     list_dot_product(e.emb, c.cemb)
                     / (sqrt(list_dot_product(e.emb, e.emb))
                        * sqrt(list_dot_product(c.cemb, c.cemb))) AS sim
              FROM emb e CROSS JOIN cent c)
      ) WHERE rn <= {NEARDUP_NPROBE}
    )
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.emb, b.emb)
                 / (sqrt(list_dot_product(a.emb, a.emb))
                    * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos
    FROM assigned a JOIN assigned b
      ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.emb, b.emb)
          / (sqrt(list_dot_product(a.emb, a.emb))
             * sqrt(list_dot_product(b.emb, b.emb))) >= {NEARDUP_COS}
    """,
    doc="embedding near-dup pairs with ADAPTIVE blocking: K = "
    "max(IVF_K, ceil(n/NEARDUP_TARGET_CELL)) centroids so expected cell "
    "size — hence pairs-per-cell and total verify cost — stays bounded as "
    "the corpus grows (the production rule the fixed-K variant documents; "
    "its 10×-probe grew 26×, this one ~linearly). One bounded scalar "
    "count picks K; the quantizer ships as a broadcast array column; "
    "assignment is the same zero-shuffle map-side fold.",
    tags=("similarity", "dedup"),
)
def embedding_neardup_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bounded driver scalar (row count only — parquet-footer cheap); the
    # raw table is counted so the compute repartition isn't triggered
    n = load_table(spark, sf_dir, "embeddings").count()
    return _neardup_pairs(spark, sf_dir, _neardup_k(n))


SEMDEDUP_COS = 0.45  # duplicate threshold (synthetic max-cos ≈ 0.51)


@register(
    "dedup_semantic_clusters",
    # the oracle recomputes the identical cluster-blocked drop rule, so the
    # keep/drop decision for every vector is hash-gated exactly
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM emb WHERE vec_id < {IVF_K}),
    assigned AS (
      SELECT vec_id, emb, cent_id, sim AS cent_sim_raw FROM (
        SELECT vec_id, emb, cent_id, sim,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cent_id) AS rn
        FROM (SELECT e.vec_id, e.emb, c.cent_id,
                     list_dot_product(e.emb, c.cemb)
                     / (sqrt(list_dot_product(e.emb, e.emb))
                        * sqrt(list_dot_product(c.cemb, c.cemb))) AS sim
              FROM emb e CROSS JOIN cent c)
      ) WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT v.vec_id
      FROM assigned v JOIN assigned u
        ON u.cent_id = v.cent_id AND u.vec_id <> v.vec_id
      WHERE list_dot_product(u.emb, v.emb)
            / (sqrt(list_dot_product(u.emb, u.emb))
               * sqrt(list_dot_product(v.emb, v.emb))) >= {SEMDEDUP_COS}
        AND (u.cent_sim_raw < v.cent_sim_raw
             OR (u.cent_sim_raw = v.cent_sim_raw AND u.vec_id < v.vec_id))
    )
    SELECT a.vec_id, a.cent_id, ROUND(a.cent_sim_raw, 6) AS cent_sim,
           d.vec_id IS NULL AS kept
    FROM assigned a LEFT JOIN dropped d ON d.vec_id = a.vec_id
    """,
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540): "
    "cluster embeddings to their nearest of K fixed centroids, find "
    "within-cluster pairs with cosine >= eps (equi-join on cent_id — NO "
    "all-pairs), and per duplicate group keep the example LEAST similar to "
    "its centroid (the paper's diversity-preserving keep rule; deterministic "
    "vec_id tie-break). At 100 TB the assignment is a materialized table "
    "bucketed by cent_id (one-off k-means write), so the self-join is "
    "co-located and cost is sum of cell-size^2, not n^2; the drop rule is a "
    "map-side comparison + distinct on vec_id. Reference: the reference "
    "engine has no semantic dedup — this is a training-pipeline extension.",
    tags=("similarity", "dedup"),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    # persist: the assignment feeds BOTH sides of the cent_id self-join
    # plus the final left join — without it Spark recomputes the
    # assignment three times (the 100 TB deployment materializes this
    # table bucketed by cent_id instead)
    assigned = assign_to_centroids(emb, _first_cents(emb), keep_sim=True).withColumnRenamed(
        "sim", "cent_sim_raw"
    )
    assigned = scoped_persist(assigned)
    v = assigned.selectExpr("cent_id", "vec_id AS v_id", "emb AS v_emb", "cent_sim_raw AS v_cs")
    u = assigned.selectExpr("cent_id", "vec_id AS u_id", "emb AS u_emb", "cent_sim_raw AS u_cs")
    # v is dropped iff some same-cluster duplicate u sits CLOSER to the
    # centroid boundary (u less centroid-similar wins — SemDeDup keeps the
    # most diverse member of each duplicate group)
    dropped = (
        v.join(u, ["cent_id"])
        .where("u_id != v_id")
        .where(f"{cos_sql('u_emb', 'v_emb')} >= {sql_literal(SEMDEDUP_COS)}")
        .where("u_cs < v_cs OR (u_cs = v_cs AND u_id < v_id)")
        .selectExpr("v_id AS vec_id", "true AS is_dropped")
        .distinct()
    )
    return assigned.join(dropped, ["vec_id"], "left").selectExpr(
        "vec_id",
        "cent_id",
        "round(cent_sim_raw, 6) AS cent_sim",
        "coalesce(NOT is_dropped, true) AS kept",
    )


# Every stage is deterministic (fixed centroids, tie-broken windows,
# sequential float64 folds) — so the whole IVF plan has an exact SQL image,
# shared by the from-scratch query and the persisted-index query (identical
# results by construction). Recall vs brute force additionally asserted in
# tests.


def _ivf_assign_sql(cent_cte: str, src: str = "emb") -> str:
    """SQL image of operators/kmeans.assign_to_centroids: nearest centroid
    by cosine, ties broken by cent_id asc. ``src`` picks the vector CTE —
    the kmeans oracle assigns the FIT SAMPLE during iterations and the
    full corpus only once at the end, mirroring the Spark side."""
    return f"""
      SELECT vec_id, emb, cent_id FROM (
        SELECT vec_id, emb, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cent_id) AS rn
        FROM (SELECT e.vec_id, e.emb, c.cent_id,
                     list_dot_product(e.emb, c.cemb)
                     / (sqrt(list_dot_product(e.emb, e.emb))
                        * sqrt(list_dot_product(c.cemb, c.cemb))) AS sim
              FROM {src} e CROSS JOIN {cent_cte} c)
      ) WHERE rn = 1
    """


def _ivf_serve_sql(cent_cte: str) -> str:
    """SQL image of the probe-and-rank tail (_ivf_serve_topk), shared by
    the fixed-centroid and kmeans-fitted oracles; expects CTEs ``emb``
    and ``assigned`` plus the centroid CTE to exist."""
    return f"""
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM emb
          WHERE vec_id < {N_QUERIES}),
    probes AS (
      SELECT query_id, qemb, cent_id FROM (
        SELECT query_id, qemb, cent_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY qsim DESC, cent_id) AS rn
        FROM (SELECT q.query_id, q.qemb, c.cent_id,
                     list_dot_product(q.qemb, c.cemb)
                     / (sqrt(list_dot_product(q.qemb, q.qemb))
                        * sqrt(list_dot_product(c.cemb, c.cemb))) AS qsim
              FROM q CROSS JOIN {cent_cte} c)
      ) WHERE rn <= {IVF_NPROBE}
    )
    SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cos, rn FROM (
      SELECT query_id, neighbor_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rn
      FROM (SELECT p.query_id, a.vec_id AS neighbor_id,
                   list_dot_product(p.qemb, a.emb)
                   / (sqrt(list_dot_product(p.qemb, p.qemb))
                      * sqrt(list_dot_product(a.emb, a.emb))) AS cos_raw
            FROM probes p JOIN assigned a USING (cent_id)
            WHERE a.vec_id <> p.query_id)
    ) WHERE rn <= {TOP_K}
    """


_IVF_TOPK_ORACLE = f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM emb WHERE vec_id < {IVF_K}),
    assigned AS ({_ivf_assign_sql("cent")}),
    {_ivf_serve_sql("cent")}
    """


def _ivf_kmeans_oracle(n_iter: int = 3) -> str:
    """SQL image of kmeans_fit (operators/kmeans.py) + the IVF serve tail:
    Lloyd iterations UNROLLED as CTE pairs (assign_j, cent_{{j+1}}), with
    the centroid update replayed as the IDENTICAL deterministic fold the
    Spark side runs — members sorted by vec_id (``list(emb ORDER BY
    vec_id)``), summed dimension-wise by a left fold seeded with a zero
    vector (``list_reduce`` over ``list_prepend(zero, ms)`` — bit-for-bit
    the same op sequence as Spark's ``F.aggregate(ms, zero, zip_with +)``),
    then divided by the member count. Empty cells keep their previous
    centroid (COALESCE), matching the Spark driver loop. The per-cell
    member cap kmeans_fit enforces (operators/kmeans.py
    DEFAULT_CELL_CAP, ADVICE r12) is mirrored with QUALIFY
    row_number() — at sf0.01 every cell is far below the cap, so the
    capped and uncapped fits are bit-identical here, but the oracle
    replays the capped op sequence so the gate stays exact at ANY
    cell size."""
    ctes = [
        "emb AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)",
        # fit-on-sample gate (ADVICE r12, second half): Lloyd iterations
        # only ever see the deterministic 1/KM_FIT_STRIDE sample, so fit
        # cost is bounded at any corpus size; init = first K sample
        # members by vec_id, cent_id = rank (matches Python enumerate)
        f"fit AS (SELECT vec_id, emb FROM emb WHERE vec_id % {KM_FIT_STRIDE} = 0)",
        f"""cent0 AS (
      SELECT rn - 1 AS cent_id, cemb FROM (
        SELECT row_number() OVER (ORDER BY vec_id) AS rn, emb AS cemb FROM fit
      ) WHERE rn <= {IVF_K})""",
    ]
    for j in range(n_iter):
        ctes.append(f"assigned{j} AS ({_ivf_assign_sql(f'cent{j}', src='fit')})")
        ctes.append(
            f"""upd{j} AS (
      SELECT cent_id,
             list_transform(
               list_reduce(
                 list_prepend(list_transform(ms[1], x -> 0.0), ms),
                 (a, b) -> list_transform(range(1, len(a) + 1), i -> a[i] + b[i])
               ),
               x -> x / n
             ) AS cemb
      FROM (SELECT cent_id, list(emb ORDER BY vec_id) AS ms,
                   COUNT(*)::DOUBLE AS n
            FROM (SELECT * FROM assigned{j}
                  QUALIFY row_number() OVER (PARTITION BY cent_id
                                             ORDER BY vec_id) <= {DEFAULT_CELL_CAP})
            GROUP BY cent_id)
    )"""
        )
        ctes.append(
            f"""cent{j + 1} AS (
      SELECT p.cent_id, COALESCE(u.cemb, p.cemb) AS cemb
      FROM cent{j} p LEFT JOIN upd{j} u USING (cent_id)
    )"""
        )
    ctes.append(f"assigned AS ({_ivf_assign_sql(f'cent{n_iter}')})")
    return "WITH " + ",\n    ".join(ctes) + ",\n    " + _ivf_serve_sql(f"cent{n_iter}")


def _ivf_probes(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """(query_id, qemb, cent_id): each query vector (vec_id < N_QUERIES)
    once per each of its IVF_NPROBE nearest centroids.

    The probe is :func:`assign_to_centroids` — the oracles' (sim DESC,
    cent_id ASC) probe order, map-side, with no exchange. The one order
    difference is NaN: a zero-norm centroid scores NaN, which ranks FIRST
    in the oracles' DESC window (Spark and DuckDB order NaN greatest) but
    last in assign_to_centroids' ascending array_sort of −sim. The corpus
    side has carried the same difference since the single assigner; the
    fixtures hold no zero-norm vector (0 of 500 at sf0.001, 0 of 500 at
    sf0.01, 0 of 2000 at sf0.1)."""
    q = emb.where(f"vec_id < {N_QUERIES}")
    return assign_to_centroids(q, cent, IVF_NPROBE).selectExpr(
        "vec_id AS query_id", "emb AS qemb", "cent_id"
    )


def _ivf_serve_topk(assigned: DataFrame, cent: DataFrame, emb: DataFrame) -> DataFrame:
    """Probe-and-rank stage shared by the from-scratch and from-index IVF
    paths: per query (:func:`_ivf_probes` of ``emb``) exact top-k within
    the probed cells of ``assigned`` only."""
    scored = (
        F.broadcast(_ivf_probes(emb, cent))
        .join(assigned, "cent_id")
        .where("vec_id != query_id")
        .selectExpr("query_id", "vec_id AS neighbor_id", f"{cos_sql('qemb', 'emb')} AS cos_raw")
    )
    return _top_k(scored, "query_id", "cos_raw", "neighbor_id", TOP_K).selectExpr(
        "query_id", "neighbor_id", "round(cos_raw, 6) AS cos", "rn"
    )


@register(
    "ann_ivf_topk",
    oracle=_IVF_TOPK_ORACLE,
    doc="IVF-style ANN: centroids = first IVF_K vectors; assign every vector "
    "to nearest centroid (broadcast join); per query probe IVF_NPROBE "
    "clusters then exact top-k within them. Scale path: assignment is a "
    "materialized bucketed table (see ann_ivf_from_index); probing reads "
    "NPROBE/K of the data.",
    tags=("similarity",),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    cent = _first_cents(emb)
    return _ivf_serve_topk(assign_to_centroids(emb, cent), cent, emb)


@register(
    "ann_ivf_kmeans_topk",
    # hash-gated since r12: the centroid update is a per-cell SORTED
    # sequential fold (operators/kmeans.py), so every float op runs in a
    # fixed order and the oracle replays the identical 3 unrolled Lloyd
    # iterations — centroids, assignments and the served top-k match
    # bit-for-bit. Recall and convergence additionally pytest-asserted
    # (tests/test_kmeans.py).
    oracle=_ivf_kmeans_oracle(n_iter=3),
    doc="IVF ANN with k-means-fitted centroids (operators/kmeans.py Lloyd "
    "iterations, deterministic first-K init + order-fixed fold updates): "
    "assign to fitted centroids, probe IVF_NPROBE cells per query, exact "
    "top-k within them. The centroid fit follows the data, lifting recall "
    "over the fixed first-K-vectors quantizer of ann_ivf_topk.",
    tags=("similarity",),
)
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    emb = scoped_persist(emb)
    # fit on the deterministic 1/KM_FIT_STRIDE sample (ADVICE r12: the
    # fit-on-sample discipline must be enforced by the query, not just
    # documented) — centroid quality saturates long before the full
    # corpus, and the full data only flows through the single final
    # assign. The gate is `vec_id % stride` so the DuckDB oracle can
    # replay it exactly; with non-uniform production ids, hash first
    # (pmod(xxhash64(id), stride)) — same shape, same cost.
    fit = emb.where(F.col("vec_id") % KM_FIT_STRIDE == 0)
    cent, _trace = kmeans_fit(fit, IVF_K, n_iter=3)
    cdf = centroids_df(spark, cent)
    return _ivf_serve_topk(assign_to_centroids(emb, cdf), cdf, emb)


LSH_TABLES, LSH_BITS, LSH_DIM = 4, 6, 64
LSH_COS_MIN = 0.3


#: fixed-point scale for embedding components in the bucket-bit decision.
#: The hyperplane sign is sign(Σ v_d · w_d); computed in floats the sum
#: depends on accumulation order, and a dot within rounding error of zero
#: could flip a bucket bit between Spark (ordered fold) and DuckDB
#: (parallel SUM). Quantizing v to round(v·10^6) and keeping w as the raw
#: integer k−1000 makes the dot an exact bigint sum — order-independent,
#: bit-identical across engines (max |term| ≈ 10^7·10^3 = 10^10, and 64 of
#: them stay far below 2^63).
LSH_FIXED_SCALE = 1_000_000


def _lsh_weights(prefix: str) -> list[int]:
    """Deterministic pseudo-random integer hyperplane weights in
    [-1000, 1000]: w = md5_32(prefix || d) % 2001 - 1000 (same arithmetic
    the DuckDB oracle replays in SQL; scaling w by 1/1000 would not
    change the sign, so the raw integer is used directly).

    r17: computed DRIVER-SIDE. The weights are constants of (l, h, d),
    but the old expression form — md5/conv/substring inside a transform
    lambda — is not constant-folded by Catalyst (HOFs are interpreted,
    lambdas aren't foldable), so every ROW re-derived all
    LSH_TABLES·LSH_BITS·LSH_DIM = 1536 md5 hashes. hashlib here is
    bit-identical to Spark's md5/conv on the same UTF-8 bytes (verified
    by the unchanged oracle gate), and the plan now carries plain
    integer literals."""
    import hashlib

    return [
        int(hashlib.md5(f"{prefix}{d}".encode()).hexdigest()[:8], 16) % 2001 - 1000
        for d in range(LSH_DIM)
    ]


def _lsh_weight_expr(prefix: str):
    """Literal-array column of the ``_lsh_weights`` hyperplane."""
    return F.array(
        *[F.lit(w).cast("bigint") for w in _lsh_weights(prefix)]
    )


def _lsh_signature_expr() -> str:
    """The full 24-hyperplane signature as ONE SQL expression string:
    ``array(named_struct('l', 0, 'b', …), …)`` where each bucket b sums
    CASE terms over explicit fixed-point dot products
    ``embi[0]*w0 + embi[1]*w1 + …``.

    Two r17 wins over the per-plane Column-API folds:

    - plan CONSTRUCTION: the Column form issued one py4j round trip per
      operator — 24 planes × 64 dims ≈ thousands of driver↔JVM calls,
      measured ~3 s of the warm wall per run; one `F.expr` string is a
      single parser call.
    - plan EXECUTION: `aggregate`/`zip_with` lambdas are interpreted
      (never whole-stage-codegen'd); the expanded multiply-add chain
      compiles. Integer sums are associativity-exact, so bucket bits are
      bit-identical to the folds (and to the DuckDB oracle's SUM).
    """
    structs = []
    for l in range(LSH_TABLES):
        bits = []
        for h in range(LSH_BITS):
            ws = _lsh_weights(f"{l}_{h}_")
            dot = " + ".join(f"embi[{d}] * {w}L" for d, w in enumerate(ws))
            bits.append(f"(CASE WHEN {dot} > 0L THEN {1 << h}L ELSE 0L END)")
        structs.append(f"named_struct('l', {l}, 'b', {' + '.join(bits)})")
    return f"array({', '.join(structs)})"


# Shared by ann_lsh_hyperplane (from-scratch) and ann_lsh_from_index
# (persisted bucketed signature table) — identical results by construction.
_LSH_ORACLE = f"""
    WITH dims AS (SELECT UNNEST(generate_series(0, {LSH_DIM - 1})) AS d),
    planes AS (
        SELECT l.l, h.h
        FROM (SELECT UNNEST(generate_series(0, {LSH_TABLES - 1})) AS l) l
        CROSS JOIN (SELECT UNNEST(generate_series(0, {LSH_BITS - 1})) AS h) h
    ),
    w AS (
        SELECT l, h, d,
               CAST(('0x' || substr(md5(l || '_' || h || '_' || d), 1, 8)) AS BIGINT)
                % 2001 - 1000 AS w
        FROM planes CROSS JOIN dims
    ),
    vex AS (
        SELECT vec_id, d.d,
               CAST(round(embedding[d.d + 1]::DOUBLE * {LSH_FIXED_SCALE}) AS BIGINT) AS val
        FROM embeddings CROSS JOIN dims d
    ),
    dots AS (
        SELECT vec_id, l, h, SUM(val * w) AS dot
        FROM vex JOIN w USING (d) GROUP BY 1, 2, 3
    ),
    buckets AS (
        SELECT vec_id, l,
               CAST(SUM(CASE WHEN dot > 0 THEN CAST(power(2, h) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS b
        FROM dots GROUP BY 1, 2
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
        FROM buckets a JOIN buckets c
          ON a.l = c.l AND a.b = c.b AND a.vec_id < c.vec_id
    )
    SELECT vec_a, vec_b,
           ROUND(list_dot_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(x.embedding::DOUBLE[], x.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(y.embedding::DOUBLE[], y.embedding::DOUBLE[]))),
                 6) AS cos
    FROM cand
    JOIN embeddings x ON x.vec_id = vec_a
    JOIN embeddings y ON y.vec_id = vec_b
    WHERE list_dot_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[])
          / (sqrt(list_dot_product(x.embedding::DOUBLE[], x.embedding::DOUBLE[]))
             * sqrt(list_dot_product(y.embedding::DOUBLE[], y.embedding::DOUBLE[])))
          >= {LSH_COS_MIN}
    """


def _lsh_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, emb, embi): float vectors plus the fixed-point copy used
    for the bucket-bit sign decision (see LSH_FIXED_SCALE) — exact bigint
    dot products, engine-independent."""
    # compute-sized partitioning (_emb): the signature arithmetic runs
    # above the exchange, not in the scan's single partition
    return _emb(spark, sf_dir).selectExpr(
        "vec_id", "emb", f"transform(emb, x -> CAST(round(x * {LSH_FIXED_SCALE}) AS BIGINT)) AS embi"
    )


def _lsh_signatures(emb: DataFrame) -> DataFrame:
    """(vec_id, embi, ...) → (vec_id, l, b): map-side (table, bucket)
    signatures — zero shuffles to signatures. One codegen-friendly SQL
    expression per row (see ``_lsh_signature_expr``)."""
    return emb.select(
        "vec_id", F.explode(F.expr(_lsh_signature_expr())).alias("s")
    ).select("vec_id", F.col("s.l").alias("l"), F.col("s.b").alias("b"))


def _lsh_pairs(sigs: DataFrame, vecs: DataFrame) -> DataFrame:
    """Candidate pairs from the (l, b) bucket equi-join of the signature
    table, then exact-cosine verify against ``vecs`` (vec_id, emb).

    ``sigs`` is persisted: both self-join sides read it, and for the
    from-scratch variant the signature expression is 24 interpreted HOF
    folds per vector that Generate would otherwise re-evaluate per side
    (with the per-pair norm hoist below: 10.7 → 3.1 s warm at sf0.1).
    The persisted-index variant already reads a materialized table; the
    persist there caches only the small signature relation."""
    sigs = scoped_persist(sigs)
    a = sigs.select(F.col("vec_id").alias("vec_a"), "l", "b")
    c = sigs.select(F.col("vec_id").alias("vec_b"), "l", "b")
    cand = (
        a.join(c, ["l", "b"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    # norms once per vector, not per candidate pair (same hoist as
    # _cells; na*nb keeps the original multiplication order so rounded
    # cosines are bit-identical)
    vecs = vecs.selectExpr("vec_id", "emb", f"{norm_sql('emb')} AS nrm")
    x = vecs.selectExpr("vec_id AS vec_a", "emb AS xa", "nrm AS na")
    y = vecs.selectExpr("vec_id AS vec_b", "emb AS xb", "nrm AS nb")
    return (
        cand.join(x, "vec_a")
        .join(y, "vec_b")
        .selectExpr("vec_a", "vec_b", f"{cos_sql('xa', 'xb', 'na', 'nb')} AS cos")
        .where(f"cos >= {sql_literal(LSH_COS_MIN)}")
        .selectExpr("vec_a", "vec_b", "round(cos, 6) AS cos")
    )


@register(
    "ann_lsh_hyperplane",
    oracle=_LSH_ORACLE,
    doc="signed-random-projection LSH ANN (the task's 'LSH-bucketed "
    "variant' alongside IVF): 4 tables x 6 deterministic hyperplanes, "
    "map-side signature per vector (zero shuffles), bucket equi-join for "
    "candidates (cost follows collisions, not O(n^2)), exact-cosine "
    "verify. Multi-table union boosts recall exactly as banding does for "
    "MinHash.",
    tags=("similarity", "lsh"),
)
def ann_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _lsh_emb(spark, sf_dir)
    return _lsh_pairs(_lsh_signatures(emb), emb.select("vec_id", "emb"))


# ---------------------------------------------------------------------------
# Persisted ANN index (round-4 verdict item 7)
#
# The from-scratch ann_* queries recompute assignments/signatures per run;
# at 100 TB the corpus-side work is written ONCE and every query serves
# from the materialized index:
#
# - IVF: the coarse quantization (vec_id, emb, cent_id) lands in a parquet
#   table PARTITIONED BY cent_id — a probe reads only its NPROBE/K
#   partition directories (partition pruning, no recompute, no full scan).
# - LSH: the signature table (vec_id, l, b) lands in a parquet table
#   BUCKETED by (l, b) — the candidate self-join co-locates by bucket
#   layout, so pair generation shuffles nothing; the float vectors are a
#   plain sidecar for the exact-cosine verify.
#
# Serving queries read ONLY index artifacts: no re-scan of the embeddings
# source appears anywhere in their plans (asserted in
# tests/test_ann_index.py), and results equal the from-scratch queries
# row-for-row (both registered against the same oracle SQL).
# ---------------------------------------------------------------------------

#: root for on-disk ANN indexes; override with SPARK_GRAFT_INDEX_DIR.
INDEX_ROOT = os.environ.get(
    "SPARK_GRAFT_INDEX_DIR",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".cache",
        "ann_index",
    ),
)


def _index_dir(sf_dir: str) -> str:
    """Per-corpus index location, keyed by the embeddings file identity
    (path + mtime + size) so a regenerated fixture invalidates the index."""
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:16]
    return os.path.join(INDEX_ROOT, key)


def build_ivf_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """One-off IVF build: coarse-quantize every vector to its nearest
    centroid and write (vec_id, emb, cent_id) partitioned by cent_id.
    At 100 TB this is the only pass over the full corpus; every later
    query touches NPROBE/K of the directories."""
    emb = _emb(spark, sf_dir)
    (
        assign_to_centroids(emb, _first_cents(emb))
        .write.mode("overwrite")
        .partitionBy("cent_id")
        .parquet(path)
    )


def build_lsh_index(spark: SparkSession, sf_dir: str, path: str, table: str) -> None:
    """One-off LSH build: map-side signatures → parquet table bucketed by
    (l, b) (candidate self-join co-locates, no shuffle), plus a plain
    (vec_id, emb) sidecar for the exact-cosine verify stage."""
    emb = _lsh_emb(spark, sf_dir)
    (
        _lsh_signatures(emb)
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(8, "l", "b")
        .sortBy("l", "b")
        .option("path", os.path.join(path, "sigs"))
        .saveAsTable(table)
    )
    emb.select("vec_id", "emb").write.mode("overwrite").parquet(
        os.path.join(path, "vectors")
    )


def ann_ivf_topk_from_index(spark: SparkSession, index_path: str) -> DataFrame:
    """Serve IVF top-k from a persisted index — the only inputs are index
    files (centroids and query vectors are index rows too: the assignment
    stores every vector once)."""
    idx = spark.read.parquet(index_path)  # vec_id, emb, cent_id
    vecs = idx.select("vec_id", "emb")
    return _ivf_serve_topk(idx, _first_cents(vecs), vecs)


def ann_lsh_pairs_from_index(spark: SparkSession, path: str, table: str) -> DataFrame:
    """Serve LSH near-neighbor pairs from a persisted index: bucketed
    signature self-join + sidecar-vector verify; the embeddings source is
    never read."""
    sigs = spark.table(table)
    vecs = spark.read.parquet(os.path.join(path, "vectors"))
    return _lsh_pairs(sigs, vecs)


def _lsh_table_name(d: str) -> str:
    return f"lsh_sigs_{os.path.basename(d)}"


@register(
    "ann_ivf_from_index",
    oracle=_IVF_TOPK_ORACLE,
    doc="IVF ANN served from the PERSISTED index (built once, "
    "cent_id-partitioned parquet): identical results to ann_ivf_topk, but "
    "the serving plan reads only index partitions — the 100 TB shape where "
    "the corpus pass happens at build time, not per query.",
    tags=("similarity", "index"),
)
def ann_ivf_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = os.path.join(_index_dir(sf_dir), "ivf")
    if not os.path.exists(os.path.join(p, "_SUCCESS")):
        build_ivf_index(spark, sf_dir, p)
    return ann_ivf_topk_from_index(spark, p)


@register(
    "ann_lsh_from_index",
    oracle=_LSH_ORACLE,
    doc="hyperplane-LSH pairs served from the PERSISTED index (signatures "
    "written once, bucketed by (l, b) so the candidate self-join is "
    "co-located): identical results to ann_lsh_hyperplane with no "
    "signature recompute and no embeddings re-scan.",
    tags=("similarity", "lsh", "index"),
)
def ann_lsh_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _index_dir(sf_dir)
    p = os.path.join(d, "lsh")
    table = _lsh_table_name(d)
    if not (
        spark.catalog.tableExists(table)
        and os.path.exists(os.path.join(p, "sigs", "_SUCCESS"))
    ):
        build_lsh_index(spark, sf_dir, p, table)
    return ann_lsh_pairs_from_index(spark, p, table)


#: PQ geometry for the oracle-gated serving query: 64-dim embeddings split
#: into m=32 subspaces of ds=2 dims, k=32 codewords per subspace.
_PQ_M, _PQ_K, _PQ_DS = 32, 32, 2

# The oracle reconstructs the ENTIRE PQ serving path in SQL: codebook =
# subvectors of the first k vectors by vec_id (the deterministic init
# operators/pq.py uses; no Lloyd iterations here, so both engines hold
# bit-identical codebooks), encode = per-subspace argmin with lowest-code
# tie-break (numpy argmin semantics), ADC = join codes to the query LUT
# and sum m partials. Squares are written (d)*(d), not POWER, to match
# numpy's multiply exactly; ranking orders by the ROUNDED distance so a
# sub-1e-6 summation-order wobble cannot flip ranks across engines.
_PQ_ORACLE = f"""
    WITH b AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, embedding AS emb
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_PQ_K})
    ),
    v AS (SELECT vec_id, embedding AS emb FROM embeddings),
    s AS (SELECT UNNEST(range(0, {_PQ_M})) AS j),
    enc0 AS (
        SELECT v.vec_id, s.j, b.code,
               (CAST(v.emb[s.j*2+1] AS DOUBLE) - CAST(b.emb[s.j*2+1] AS DOUBLE))
             * (CAST(v.emb[s.j*2+1] AS DOUBLE) - CAST(b.emb[s.j*2+1] AS DOUBLE))
             + (CAST(v.emb[s.j*2+2] AS DOUBLE) - CAST(b.emb[s.j*2+2] AS DOUBLE))
             * (CAST(v.emb[s.j*2+2] AS DOUBLE) - CAST(b.emb[s.j*2+2] AS DOUBLE)) AS d2
        FROM v CROSS JOIN s CROSS JOIN b
    ),
    enc AS (
        SELECT vec_id, j, code FROM (
            SELECT vec_id, j, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
            FROM enc0
        ) WHERE rn = 1
    ),
    q AS (
        SELECT vec_id AS query_id, emb
        FROM (SELECT vec_id, emb FROM v ORDER BY vec_id LIMIT 5)
    ),
    lut AS (
        SELECT q.query_id, s.j, b.code,
               (CAST(q.emb[s.j*2+1] AS DOUBLE) - CAST(b.emb[s.j*2+1] AS DOUBLE))
             * (CAST(q.emb[s.j*2+1] AS DOUBLE) - CAST(b.emb[s.j*2+1] AS DOUBLE))
             + (CAST(q.emb[s.j*2+2] AS DOUBLE) - CAST(b.emb[s.j*2+2] AS DOUBLE))
             * (CAST(q.emb[s.j*2+2] AS DOUBLE) - CAST(b.emb[s.j*2+2] AS DOUBLE)) AS pd
        FROM q CROSS JOIN s CROSS JOIN b
    ),
    adc AS (
        SELECT l.query_id, e.vec_id, SUM(l.pd) AS adc_dist
        FROM enc e JOIN lut l ON l.j = e.j AND l.code = e.code
        GROUP BY 1, 2
    )
    SELECT query_id, vec_id, rank, adc_dist FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY ROUND(adc_dist, 6), vec_id) AS rank,
               ROUND(adc_dist, 6) AS adc_dist
        FROM adc
    ) WHERE rank <= 10
"""


@register(
    "ann_pq_adc_topk",
    oracle=_PQ_ORACLE,
    doc="product-quantization ANN serving (operators/pq.py — Jégou et al. "
    "PQ): vectors encoded map-side to 32 codes over deterministic init "
    "codebooks (subvectors of the first k vectors — SQL-reconstructable, "
    "so the FULL encode→ADC→top-k path is hash-gated against DuckDB), "
    "queries answered by ADC lookup-table scans over the CODES table "
    "only. The memory path of FAISS-style IVF-PQ at 100 TB. Lloyd-TRAINED "
    "codebooks (iterative, float-order sensitive) are exercised with "
    "recall@10 ≥0.5 and serving-plan assertions in tests/test_pq.py.",
    tags=("similarity", "ann", "pq"),
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from ..operators.pq import encode_pq, pq_adc_topk, train_pq

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").alias("emb"))
        .repartition(spark.sparkContext.defaultParallelism)  # see _emb
    )
    # n_iter=0 → deterministic init codebooks (first k vectors' subvectors)
    books = train_pq(emb, m=_PQ_M, k=_PQ_K, n_iter=0)
    codes = encode_pq(emb, books)
    queries = [
        (int(r.vec_id), [float(v) for v in r.emb])
        for r in emb.orderBy("vec_id").limit(5).collect()
    ]
    return pq_adc_topk(codes, books, queries, topk=10, rank_rounded=True)


# IVF-PQ: the same deterministic PQ serving composed with coarse-cell
# pruning over the IVF_K fixed centroids (L2, single assignment). The
# oracle reproduces cells, probe sets, encode, and ADC entirely in SQL.
_IVFPQ_ORACLE = f"""
    WITH v AS (SELECT vec_id, embedding AS emb FROM embeddings),
    b AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, emb
        FROM (SELECT vec_id, emb FROM v ORDER BY vec_id LIMIT {_PQ_K})
    ),
    cent AS (SELECT vec_id AS cent_id, emb::DOUBLE[] AS cemb FROM v WHERE vec_id < {IVF_K}),
    cells AS (
        SELECT vec_id, cent_id AS cell_id FROM (
            SELECT e.vec_id, c.cent_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       list_sum(list_transform(list_zip(e.emb::DOUBLE[], c.cemb),
                                               x -> (x[1]-x[2])*(x[1]-x[2]))),
                       c.cent_id) AS rn
            FROM v e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    s AS (SELECT UNNEST(range(0, {_PQ_M})) AS j),
    enc AS (
        SELECT vec_id, j, code FROM (
            SELECT e.vec_id, s.j, b.code,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id, s.j ORDER BY
                       (CAST(e.emb[s.j*2+1] AS DOUBLE) - CAST(b.emb[s.j*2+1] AS DOUBLE))
                     * (CAST(e.emb[s.j*2+1] AS DOUBLE) - CAST(b.emb[s.j*2+1] AS DOUBLE))
                     + (CAST(e.emb[s.j*2+2] AS DOUBLE) - CAST(b.emb[s.j*2+2] AS DOUBLE))
                     * (CAST(e.emb[s.j*2+2] AS DOUBLE) - CAST(b.emb[s.j*2+2] AS DOUBLE)),
                       b.code) AS rn
            FROM v e CROSS JOIN s CROSS JOIN b
        ) WHERE rn = 1
    ),
    q AS (
        SELECT vec_id AS query_id, emb
        FROM (SELECT vec_id, emb FROM v ORDER BY vec_id LIMIT 5)
    ),
    probe AS (
        SELECT query_id, cent_id FROM (
            SELECT q.query_id, c.cent_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                       list_sum(list_transform(list_zip(q.emb::DOUBLE[], c.cemb),
                                               x -> (x[1]-x[2])*(x[1]-x[2]))),
                       c.cent_id) AS rn
            FROM q CROSS JOIN cent c
        ) WHERE rn <= {IVF_NPROBE}
    ),
    lut AS (
        SELECT q.query_id, s.j, b.code,
               (CAST(q.emb[s.j*2+1] AS DOUBLE) - CAST(b.emb[s.j*2+1] AS DOUBLE))
             * (CAST(q.emb[s.j*2+1] AS DOUBLE) - CAST(b.emb[s.j*2+1] AS DOUBLE))
             + (CAST(q.emb[s.j*2+2] AS DOUBLE) - CAST(b.emb[s.j*2+2] AS DOUBLE))
             * (CAST(q.emb[s.j*2+2] AS DOUBLE) - CAST(b.emb[s.j*2+2] AS DOUBLE)) AS pd
        FROM q CROSS JOIN s CROSS JOIN b
    ),
    cand AS (
        SELECT p.query_id, cl.vec_id
        FROM probe p JOIN cells cl ON cl.cell_id = p.cent_id
    ),
    adc AS (
        SELECT c.query_id, c.vec_id, SUM(l.pd) AS adc_dist
        FROM cand c
        JOIN enc e ON e.vec_id = c.vec_id
        JOIN lut l ON l.query_id = c.query_id AND l.j = e.j AND l.code = e.code
        GROUP BY 1, 2
    )
    SELECT query_id, vec_id, rank, adc_dist FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY ROUND(adc_dist, 6), vec_id) AS rank,
               ROUND(adc_dist, 6) AS adc_dist
        FROM adc
    ) WHERE rank <= 10
"""


@register(
    "ann_ivfpq_topk",
    oracle=_IVFPQ_ORACLE,
    doc="IVF-PQ serving (the FAISS production composition, operators/"
    "pq.py::ivfpq_topk): vectors single-assigned to their nearest of "
    "IVF_K fixed centroids (distributed broadcast join, L2), PQ-encoded "
    "map-side over deterministic init codebooks, queries scan ONLY the "
    "codes in their nprobe nearest cells via ADC lookup tables. With "
    "cell-partitioned codes at 100 TB the isin filter becomes partition "
    "pruning — cost follows nprobe/K of the corpus at PQ memory. The "
    "SQL oracle reproduces cells + probes + encode + ADC, hash-gating "
    "the entire serving composition.",
    tags=("similarity", "ann", "pq", "ivf"),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.pq import encode_pq, ivfpq_topk, train_pq

    emb = _emb(spark, sf_dir)
    books = train_pq(emb, m=_PQ_M, k=_PQ_K, n_iter=0)
    codes = encode_pq(emb, books)
    # distributed cell assignment: L2 argmin of each vector against the
    # broadcast centroid array, map-side (zero shuffle), each distance a
    # sequential float64 fold (bit-matches DuckDB list_sum); the
    # strictly-less fold over the cent_id-sorted array keeps the FIRST
    # minimum = the oracle's (d2 ASC, cent_id ASC) winner
    d2 = "aggregate(zip_with(emb, c.cemb, (x, y) -> (x - y) * (x - y)), 0D, (s, x) -> s + x)"
    best = (
        f"aggregate(transform(carr, c -> named_struct('cell_id', c.cent_id, 'd2', {d2})), "
        f"named_struct('cell_id', CAST(-1 AS BIGINT), 'd2', {sql_literal(float('inf'))}), "
        "(acc, c) -> IF(c.d2 < acc.d2, c, acc))"
    )
    cells = emb.crossJoin(F.broadcast(centroid_array(_first_cents(emb)))).selectExpr(
        "vec_id", f"CAST({best}.cell_id AS INT) AS cell_id"
    )
    codes_cell = codes.join(cells, "vec_id")
    first = emb.orderBy("vec_id").limit(max(IVF_K, 5)).collect()
    centroids = np.asarray([r.emb for r in first[:IVF_K]], dtype=np.float64)
    queries = [(int(r.vec_id), [float(x) for x in r.emb]) for r in first[:5]]
    return ivfpq_topk(
        codes_cell, books, centroids, queries, topk=10, nprobe=IVF_NPROBE,
        rank_rounded=True,
    )


HARDNEG_K = 5  # hardest negatives retained per query


@register(
    "ann_hard_negatives",
    # the oracle recomputes the identical label-filtered cosine ranking,
    # so every mined negative and its rank is hash-gated
    oracle=f"""
    SELECT query_id, query_label, neighbor_id, neighbor_label, cos, rn FROM (
        SELECT q.vec_id AS query_id, q.label AS query_label,
               e.vec_id AS neighbor_id, e.label AS neighbor_label,
               ROUND(list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))),
                     6) AS cos,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
                            / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                               * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) DESC,
                            e.vec_id) AS rn
        FROM embeddings q JOIN embeddings e ON e.label <> q.label
        WHERE q.vec_id < {N_QUERIES}
    ) WHERE rn <= {HARDNEG_K}
    """,
    doc="hard-negative mining for retrieval/contrastive training (the DPR "
    "/ SBERT batch-construction step, Karpukhin et al. 2020): for each "
    "query vector, the top-k most cosine-similar vectors with a "
    "DIFFERENT label — examples the model currently confuses, which "
    "make the strongest contrastive negatives. Scale shape: identical "
    "to knn_bruteforce_cosine — queries (with labels) broadcast, the "
    "corpus streams once with the label-mismatch filter applied "
    "map-side, partition-local top-k bounds the single ranking exchange "
    "to batches × queries × k rows. At 100 TB the brute-force scan "
    "swaps for the IVF probe path (ann_ivf_topk) with the same "
    "label-filter + top-k tail.",
    tags=("similarity", "llm"),
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir, "label")
    q = emb.where(f"vec_id < {N_QUERIES}").selectExpr(
        "vec_id AS query_id", "label AS query_label", "emb AS qemb"
    )
    e = emb.selectExpr("vec_id AS neighbor_id", "label AS neighbor_label", "emb AS eemb")
    pair = ["query_id", "query_label", "neighbor_id", "neighbor_label"]
    scored = (
        F.broadcast(q)
        .crossJoin(e)
        .where("neighbor_label != query_label")
        .selectExpr(*pair, f"{cos_sql('qemb', 'eemb')} AS cos_raw")
    )
    return _top_k(scored, "query_id", "cos_raw", "neighbor_id", HARDNEG_K).selectExpr(
        *pair, "round(cos_raw, 6) AS cos", "rn"
    )


# --- matryoshka (MRL) two-pass retrieval -----------------------------------
#
# Matryoshka-representation retrieval (Kusupati et al. 2022, public): the
# first MRL_DIM dims of an MRL-trained embedding are themselves a valid
# low-rank embedding, so ANN serving scans a short prefix for a cheap
# coarse pass and re-ranks only the shortlist with the full vector. At
# 100 TB the prefix lives as its own column (or its own narrow table), so
# pass 1 reads MRL_DIM/64 of the bytes; pass 2 fetches full vectors for
# shortlist rows only (queries x MRL_SHORTLIST, a broadcast).
MRL_DIM = 16
MRL_SHORTLIST = 20


@register(
    "ann_matryoshka_rerank",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    coarse AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               list_dot_product((q.v)[1:{MRL_DIM}], (e.v)[1:{MRL_DIM}])
               / (sqrt(list_dot_product((q.v)[1:{MRL_DIM}], (q.v)[1:{MRL_DIM}]))
                  * sqrt(list_dot_product((e.v)[1:{MRL_DIM}], (e.v)[1:{MRL_DIM}]))) AS cos16,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_dot_product((q.v)[1:{MRL_DIM}], (e.v)[1:{MRL_DIM}])
                            / (sqrt(list_dot_product((q.v)[1:{MRL_DIM}], (q.v)[1:{MRL_DIM}]))
                               * sqrt(list_dot_product((e.v)[1:{MRL_DIM}], (e.v)[1:{MRL_DIM}]))) DESC,
                            e.vec_id) AS crn
        FROM e q JOIN e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}),
    short AS (SELECT query_id, neighbor_id, cos16 FROM coarse WHERE crn <= {MRL_SHORTLIST})
    SELECT query_id, neighbor_id, cos_coarse, cos, rn FROM (
        SELECT s.query_id, s.neighbor_id, ROUND(s.cos16, 6) AS cos_coarse,
               ROUND(list_dot_product(q.v, e.v)
                     / (sqrt(list_dot_product(q.v, q.v))
                        * sqrt(list_dot_product(e.v, e.v))), 6) AS cos,
               ROW_NUMBER() OVER (
                   PARTITION BY s.query_id
                   ORDER BY list_dot_product(q.v, e.v)
                            / (sqrt(list_dot_product(q.v, q.v))
                               * sqrt(list_dot_product(e.v, e.v))) DESC,
                            s.neighbor_id) AS rn
        FROM short s
        JOIN e q ON q.vec_id = s.query_id
        JOIN e   ON e.vec_id = s.neighbor_id)
    WHERE rn <= {TOP_K}
    """,
    doc="matryoshka two-pass ANN: coarse cosine over the first "
    f"{MRL_DIM}-dim prefix (reads {MRL_DIM}/64 of the vector bytes at "
    "scale), exact full-dim re-rank over the per-query shortlist only. "
    "Both cosine folds are sequential left-folds in Spark and DuckDB, so "
    "the shortlist boundary cannot flip between engines.",
    tags=("similarity",),
)
def ann_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = scoped_persist(_emb(spark, sf_dir))
    pre = emb.selectExpr("vec_id AS neighbor_id", f"slice(emb, 1, {MRL_DIM}) AS epre")
    qs = emb.where(f"vec_id < {N_QUERIES}")
    q = qs.selectExpr("vec_id AS query_id", f"slice(emb, 1, {MRL_DIM}) AS qpre")
    coarse = (
        F.broadcast(q)
        .crossJoin(pre)
        .where("neighbor_id != query_id")
        .selectExpr("query_id", "neighbor_id", f"{cos_sql('qpre', 'epre')} AS cos16")
    )
    short = _top_k(coarse, "query_id", "cos16", "neighbor_id", MRL_SHORTLIST).drop("rn")
    # re-rank: fetch FULL vectors for shortlist rows only (the shortlist is
    # queries x MRL_SHORTLIST rows -> broadcast side of both fetch joins)
    qfull = qs.selectExpr("vec_id AS query_id", "emb AS qemb")
    efull = emb.selectExpr("vec_id AS neighbor_id", "emb AS eemb")
    full = (
        efull.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(qfull), "query_id")
        .selectExpr("query_id", "neighbor_id", "cos16", f"{cos_sql('qemb', 'eemb')} AS cos_full")
    )
    return _top_k(full, "query_id", "cos_full", "neighbor_id", TOP_K).selectExpr(
        "query_id",
        "neighbor_id",
        "round(cos16, 6) AS cos_coarse",
        "round(cos_full, 6) AS cos",
        "rn",
    )


# --- int8 scalar-quantized ANN ---------------------------------------------
#
# Per-vector symmetric int8 quantization (the faiss SQ8 / public
# sentence-transformers int8 recipe): scale = max|x| / 127, q_i =
# round(x_i / scale) in [-127, 127]. Cosine over quantized vectors is
# scale-free (the per-vector scales cancel), so the score is a pure
# INTEGER dot product normalized by integer norms — bit-identical across
# engines with no float fold-order concern at all. At 100 TB the int8
# codes are 4x smaller than float32 (16x vs float64), so the scan reads
# a quarter of the bytes and SIMD int8 dot products apply.
SQ8_SCALE_DEN = 127.0


def _sq8(df: DataFrame, *keep: str) -> DataFrame:
    """(*keep, sq8): ``emb``'s SQ8 codes — scale s = max|x| / 127,
    code = round(x / s) as a long — carried as doubles for the cosine
    fold (codes are at most 127 in magnitude, so the cast is exact). s
    is a column of its own first, so the code lambda reads it instead of
    refolding the vector per element."""
    return df.selectExpr(
        *keep, "emb", f"array_max(transform(emb, x -> abs(x))) / {sql_literal(SQ8_SCALE_DEN)} AS s"
    ).selectExpr(*keep, "transform(emb, x -> CAST(CAST(round(x / s) AS BIGINT) AS DOUBLE)) AS sq8")


@register(
    "ann_int8_quantized_topk",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / {SQ8_SCALE_DEN} AS s
        FROM embeddings),
    quant AS (
        SELECT vec_id, list_transform(v, x -> CAST(round(x / s) AS BIGINT)) AS qi
        FROM base)
    SELECT query_id, neighbor_id, qcos, rn FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               ROUND(list_dot_product(q.qi::DOUBLE[], e.qi::DOUBLE[])
                     / (sqrt(list_dot_product(q.qi::DOUBLE[], q.qi::DOUBLE[]))
                        * sqrt(list_dot_product(e.qi::DOUBLE[], e.qi::DOUBLE[]))), 6) AS qcos,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.qi::DOUBLE[], e.qi::DOUBLE[])
                            / (sqrt(list_dot_product(q.qi::DOUBLE[], q.qi::DOUBLE[]))
                               * sqrt(list_dot_product(e.qi::DOUBLE[], e.qi::DOUBLE[]))) DESC,
                            e.vec_id) AS rn
        FROM quant q JOIN quant e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES})
    WHERE rn <= {TOP_K}
    """,
    doc="int8 scalar-quantized ANN: per-vector max-abs/127 symmetric "
    "quantization map-side, cosine over the int8 codes (scales cancel -> "
    "pure integer dot products, bit-exact across engines), two-stage "
    "top-k. The 4x-smaller codes are the scan at scale.",
    tags=("similarity",),
)
def ann_int8_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    quant = _sq8(_emb(spark, sf_dir), "vec_id")
    q = quant.where(f"vec_id < {N_QUERIES}").selectExpr("vec_id AS query_id", "sq8 AS qq")
    e = quant.selectExpr("vec_id AS neighbor_id", "sq8 AS eq")
    scored = (
        F.broadcast(q)
        .crossJoin(e)
        .where("neighbor_id != query_id")
        .selectExpr("query_id", "neighbor_id", f"{cos_sql('qq', 'eq')} AS qcos_raw")
    )
    return _top_k(scored, "query_id", "qcos_raw", "neighbor_id", TOP_K).selectExpr(
        "query_id", "neighbor_id", "round(qcos_raw, 6) AS qcos", "rn"
    )


@register(
    "emb_class_centroid_cohesion",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (
        SELECT label, u.idx, u.x
        FROM e, LATERAL (SELECT unnest(v) AS x,
                                unnest(generate_series(1, len(v))) AS idx) u),
    cent AS (
        SELECT label, list(avgx ORDER BY idx) AS c
        FROM (SELECT label, idx, AVG(x) AS avgx FROM dims GROUP BY 1, 2)
        GROUP BY 1)
    SELECT e.label, CAST(count(*) AS BIGINT) AS n,
           ROUND(AVG(list_dot_product(e.v, c.c)
                 / (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(c.c, c.c)))), 6) AS cohesion
    FROM e JOIN cent c USING (label)
    GROUP BY 1
    """,
    doc="per-class embedding quality report: distributed elementwise "
    "centroid (posexplode -> (label, dim) partial-agg AVG — one shuffle "
    "of dim x labels cells, never vectors to one node) then cohesion = "
    "mean cosine of members to their centroid via a broadcast of the "
    "label-count-bounded centroid table. The training-data curation "
    "signal for class collapse / label noise.",
    tags=("similarity", "llm"),
)
def emb_class_centroid_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = scoped_persist(_emb(spark, sf_dir, "label"))
    dims = emb.select("label", F.posexplode("emb").alias("idx", "x"))
    cent = (
        dims.groupBy("label", "idx")
        .agg(F.avg("x").alias("avgx"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "avgx"))), lambda s: s.avgx
            ).alias("c")
        )
    )
    cos = F.expr(cos_sql("emb", "c"))
    return (
        emb.join(F.broadcast(cent), "label")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg(cos), 6).alias("cohesion"))
    )


@register(
    "ann_ivf_int8_topk",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    base AS (
        SELECT vec_id, emb,
               list_max(list_transform(emb, x -> abs(x))) / {SQ8_SCALE_DEN} AS s
        FROM emb),
    quant AS (
        SELECT vec_id, list_transform(emb, x -> CAST(round(x / s) AS BIGINT)) AS qi
        FROM base),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM emb WHERE vec_id < {IVF_K}),
    assigned AS ({_ivf_assign_sql("cent")}),
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM emb WHERE vec_id < {N_QUERIES}),
    probes AS (
        SELECT query_id, cent_id FROM (
            SELECT q.query_id, c.cent_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                       list_dot_product(q.qemb, c.cemb)
                       / (sqrt(list_dot_product(q.qemb, q.qemb))
                          * sqrt(list_dot_product(c.cemb, c.cemb))) DESC,
                       c.cent_id) AS rn
            FROM q CROSS JOIN cent c) WHERE rn <= {IVF_NPROBE})
    SELECT query_id, neighbor_id, qcos, rn FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               ROUND(list_dot_product(qq.qi::DOUBLE[], nq.qi::DOUBLE[])
                     / (sqrt(list_dot_product(qq.qi::DOUBLE[], qq.qi::DOUBLE[]))
                        * sqrt(list_dot_product(nq.qi::DOUBLE[], nq.qi::DOUBLE[]))), 6)
                   AS qcos,
               ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
                   list_dot_product(qq.qi::DOUBLE[], nq.qi::DOUBLE[])
                   / (sqrt(list_dot_product(qq.qi::DOUBLE[], qq.qi::DOUBLE[]))
                      * sqrt(list_dot_product(nq.qi::DOUBLE[], nq.qi::DOUBLE[]))) DESC,
                   a.vec_id) AS rn
        FROM probes p
        JOIN assigned a USING (cent_id)
        JOIN quant nq ON nq.vec_id = a.vec_id
        JOIN quant qq ON qq.vec_id = p.query_id
        WHERE a.vec_id <> p.query_id)
    WHERE rn <= {TOP_K}
    """,
    doc="the faiss IVF+SQ8 production recipe composed: cells assigned on "
    "full-precision vectors at INDEX BUILD time (zero-shuffle map-side "
    "fold), serving scans only the probed cells AND reads only the int8 "
    "codes (NPROBE/K of the rows x 1/4 of the bytes); scores are "
    "scale-free integer-dot cosines, bit-exact across engines.",
    tags=("similarity", "ivf", "quantization"),
)
def ann_ivf_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = scoped_persist(_emb(spark, sf_dir))
    cent = _first_cents(emb)
    codes = _sq8(assign_to_centroids(emb, cent), "vec_id", "cent_id")
    probes = _ivf_probes(emb, cent).select("query_id", "cent_id")
    qq = codes.where(f"vec_id < {N_QUERIES}").selectExpr("vec_id AS query_id", "sq8 AS qq")
    scored = (
        F.broadcast(probes.join(qq, "query_id"))
        .join(codes.selectExpr("cent_id", "vec_id AS neighbor_id", "sq8 AS nq"), "cent_id")
        .where("neighbor_id != query_id")
        .selectExpr("query_id", "neighbor_id", f"{cos_sql('qq', 'nq')} AS qcos_raw")
    )
    return _top_k(scored, "query_id", "qcos_raw", "neighbor_id", TOP_K).selectExpr(
        "query_id", "neighbor_id", "round(qcos_raw, 6) AS qcos", "rn"
    )


from . import REGISTRY as _REG  # noqa: E402  (oracle composition below)


@register(
    "ann_recall_report",
    # the oracle composes the two gated oracles verbatim, so this query's
    # gate is only ever as good as theirs — exactly the semantics of a
    # recall evaluation.
    oracle=f"""
    WITH exact AS (
        SELECT query_id, neighbor_id
        FROM ({_REG["knn_bruteforce_cosine"].oracle})),
    approx AS (
        SELECT query_id, neighbor_id
        FROM ({_REG["ann_ivf_topk"].oracle}))
    SELECT e.query_id,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS hits,
           ROUND(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / {TOP_K}, 6) AS recall
    FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
    GROUP BY 1
    """,
    doc="ANN index-quality report: recall@k of the IVF index against the "
    "brute-force ground truth, per query — the evaluation every "
    "production ANN deployment runs before flipping traffic. Composes "
    "the two gated operators (raw functions, so the cache lifecycle is "
    "untouched); at scale ground truth comes from a query SAMPLE, which "
    "is exactly what the broadcast-bounded query side already is.",
    tags=("similarity", "evaluation"),
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = knn_bruteforce_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    approx = (
        ann_ivf_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    hits = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            hits.cast("bigint").alias("hits"),
            F.round(hits * F.lit(1.0) / TOP_K, 6).alias("recall"),
        )
    )


@register(
    "emb_quality_report",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
               len(embedding) AS dim
        FROM embeddings)
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(min(dim) AS BIGINT) AS dim_min, CAST(max(dim) AS BIGINT) AS dim_max,
           CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_vectors,
           CAST(SUM(CASE WHEN isnan(list_aggregate(v, 'sum')) THEN 1 ELSE 0 END)
                AS BIGINT) AS nan_vectors,
           ROUND(AVG(nrm), 6) AS norm_mean,
           ROUND(STDDEV_POP(nrm), 6) AS norm_std,
           ROUND(MIN(nrm), 6) AS norm_min, ROUND(MAX(nrm), 6) AS norm_max
    FROM e
    """,
    doc="embedding ingestion QC: one map-side pass computes dimension "
    "consistency, zero/NaN vector counts and the norm distribution — the "
    "checks that catch a broken encoder or a bad batch BEFORE an index "
    "build spends a corpus scan on garbage. Single-row mergeable "
    "aggregate; no shuffle beyond the final 1-group reduction.",
    tags=("similarity", "quality"),
)
def emb_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _vecd(F.col("embedding")).alias("v")
    )
    base = emb.selectExpr(
        f"{norm_sql('v')} AS nrm",
        "size(v) AS dim",
        "isnan(aggregate(v, 0D, (a, x) -> a + x)) AS has_nan",
    )
    return base.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("dim").cast("bigint").alias("dim_min"),
        F.max("dim").cast("bigint").alias("dim_max"),
        F.sum((F.col("nrm") == 0).cast("long")).alias("zero_vectors"),
        F.sum(F.col("has_nan").cast("long")).alias("nan_vectors"),
        F.round(F.avg("nrm"), 6).alias("norm_mean"),
        F.round(F.stddev_pop("nrm"), 6).alias("norm_std"),
        F.round(F.min("nrm"), 6).alias("norm_min"),
        F.round(F.max("nrm"), 6).alias("norm_max"),
    )


@register(
    "emb_ivf_cell_balance",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM emb WHERE vec_id < {IVF_K}),
    assigned AS ({_ivf_assign_sql("cent")}),
    cells AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n FROM assigned GROUP BY 1)
    SELECT c.cent_id, c.n,
           ROUND(c.n * 1.0 / t.total, 6) AS share,
           ROUND(c.n * {IVF_K}.0 / t.total, 6) AS balance
    FROM cells c CROSS JOIN (SELECT SUM(n) AS total FROM cells) t
    """,
    doc="IVF index health: per-cell population, share and balance factor "
    "(n x K / total — 1.0 is perfectly even; a hot cell's factor is its "
    "probe-latency multiplier). The production dashboard that decides "
    "when to re-fit centroids or raise K. Map-side assignment, one "
    "K-group aggregate, a 1-row total broadcast.",
    tags=("similarity", "ivf", "quality"),
)
def emb_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    assigned = assign_to_centroids(emb, _first_cents(emb))
    cells = assigned.groupBy("cent_id").agg(F.count(F.lit(1)).alias("n"))
    total = cells.agg(F.sum("n").alias("total"))
    return cells.crossJoin(F.broadcast(total)).select(
        "cent_id",
        "n",
        F.round(F.col("n") * F.lit(1.0) / F.col("total"), 6).alias("share"),
        F.round(F.col("n") * F.lit(float(IVF_K)) / F.col("total"), 6).alias("balance"),
    )


KNN_PROBE_STRIDE = 10  # label-consistency probes = vec_id % 10 == 0 sample


@register(
    "emb_knn_label_consistency",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id % {KNN_PROBE_STRIDE} = 0),
    nn AS (
        SELECT q.vec_id, q.label AS qlabel, n.label AS nlabel,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                   list_dot_product(q.v, n.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(n.v, n.v))) DESC,
                   n.vec_id) AS rn
        FROM q JOIN e n ON n.vec_id <> q.vec_id)
    SELECT qlabel AS label, CAST(count(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
               AS label_matches,
           ROUND(AVG(CASE WHEN nlabel = qlabel THEN 1.0 ELSE 0.0 END), 6)
               AS knn1_accuracy
    FROM nn WHERE rn = 1 GROUP BY 1
    """,
    doc="embedding label-consistency probe: 1-NN label agreement over a "
    "deterministic probe sample (the classic does-my-embedding-space-"
    "respect-my-labels diagnostic; low accuracy = label noise or space "
    "collapse). The probe side is sample-bounded and broadcasts; the "
    "corpus streams once through the two-stage top-1.",
    tags=("similarity", "quality", "llm"),
)
def emb_knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = scoped_persist(_emb(spark, sf_dir, "label"))
    q = emb.where(f"vec_id % {KNN_PROBE_STRIDE} = 0").selectExpr(
        "vec_id AS qid", "label AS qlabel", "emb AS qv"
    )
    n = emb.selectExpr("vec_id AS nid", "label AS nlabel", "emb AS nv")
    scored = (
        F.broadcast(q)
        .crossJoin(n)
        .where("nid != qid")
        .selectExpr("qid", "qlabel", "nlabel", f"{cos_sql('qv', 'nv')} AS cos_raw", "nid")
    )
    top1 = _top_k(scored, "qid", "cos_raw", "nid", 1)
    match = (F.col("nlabel") == F.col("qlabel")).cast("long")
    return top1.groupBy(F.col("qlabel").alias("label")).agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(match).alias("label_matches"),
        F.round(F.avg(match.cast("double")), 6).alias("knn1_accuracy"),
    )


@register(
    "emb_dim_stats",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (
        SELECT u.idx AS dim, u.x
        FROM e, LATERAL (SELECT unnest(v) AS x,
                                unnest(generate_series(1, len(v))) AS idx) u),
    s AS (
        SELECT dim, CAST(count(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(x * x) AS sxx,
               MIN(x) AS vmin, MAX(x) AS vmax,
               CAST(SUM(CAST(x = 0 AS INT)) AS BIGINT) AS n_zero
        FROM dims GROUP BY 1)
    SELECT dim, n,
           ROUND(sx / n, 6) AS mean,
           ROUND((sxx - sx * sx / n) / n, 6) AS variance,
           ROUND(vmin, 6) AS vmin, ROUND(vmax, 6) AS vmax,
           ROUND(n_zero * 1.0 / n, 6) AS zero_frac,
           CAST((sxx - sx * sx / n) / n < 1e-6 AS INT) AS is_dead
    FROM s
    """,
    doc="per-dimension embedding health report: mean/variance/min/max/"
    "zero-fraction for every coordinate, flagging dead (near-constant) "
    "dimensions — the space-collapse signal a 100 TB ingest checks before "
    "training spends on it. posexplode fans each vector into dim rows but "
    "the partial aggregation combines map-side, so the shuffle carries "
    "only dim-count cells per partition regardless of corpus size; the "
    "final table is dim rows. Variance via the exact sum-of-squares "
    "identity over double sums (round 6 absorbs fold-order noise). "
    "Complements emb_quality_report (per-vector) and "
    "emb_class_centroid_cohesion (per-class).",
    tags=("similarity", "embeddings"),
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _vecd(F.col("embedding")).alias("v")
    )
    dims = e.select(F.posexplode("v").alias("i", "x")).select(
        (F.col("i") + 1).alias("dim"), "x"
    )
    s = dims.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.min("x").alias("vmin"),
        F.max("x").alias("vmax"),
        F.sum((F.col("x") == 0).cast("int")).cast("long").alias("n_zero"),
    )
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / F.col("n")
    return s.select(
        "dim",
        "n",
        F.round(F.col("sx") / F.col("n"), 6).alias("mean"),
        F.round(var, 6).alias("variance"),
        F.round("vmin", 6).alias("vmin"),
        F.round("vmax", 6).alias("vmax"),
        F.round(F.col("n_zero") * F.lit(1.0) / F.col("n"), 6).alias("zero_frac"),
        (var < 1e-6).cast("int").alias("is_dead"),
    )


GRAM_TOPK = 20


def _gram_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scoped-persisted (i, j, v) moment sums of the embedding matrix:
    upper-triangle X^T X cells at (i, j), column sums at (i, -1), and the
    row count at (-1, -1) — ONE Arrow-batched pass, dim^2-bounded partial
    per batch (shared by emb_gram_topcorr and emb_pca_power_iteration)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )

    def gram(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            n, d = X.shape
            G = X.T @ X
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": np.concatenate([iu + 1, np.arange(1, d + 1), [-1]]).astype("int32"),
                    "j": np.concatenate([ju + 1, np.full(d, -1), [-1]]).astype("int32"),
                    "v": np.concatenate([G[iu, ju], X.sum(axis=0), [float(n)]]),
                }
            )

    parts = emb.mapInPandas(gram, "i int, j int, v double")
    return scoped_persist(parts.groupBy("i", "j").agg(F.sum("v").alias("v")))


@register(
    "emb_gram_topcorr",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (
        SELECT vec_id, u.idx AS i, u.x
        FROM e, LATERAL (SELECT unnest(v) AS x,
                                unnest(generate_series(1, len(v))) AS idx) u),
    s AS (SELECT i, SUM(x) AS si, SUM(x * x) AS sii,
                 CAST(count(*) AS BIGINT) AS n
          FROM dims GROUP BY 1),
    p AS (SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS sij
          FROM dims a JOIN dims b
            ON b.vec_id = a.vec_id AND b.i > a.i
          GROUP BY 1, 2),
    c AS (SELECT p.i, p.j,
                 (sa.n * p.sij - sa.si * sb.si)
                 / sqrt((sa.n * sa.sii - sa.si * sa.si)
                        * (sb.n * sb.sii - sb.si * sb.si)) AS corr
          FROM p JOIN s sa ON sa.i = p.i JOIN s sb ON sb.i = p.j),
    ranked AS (SELECT i AS dim_i, j AS dim_j, ROUND(corr, 5) AS corr,
                      ROW_NUMBER() OVER (ORDER BY ROUND(abs(corr), 5) DESC,
                                         i ASC, j ASC) AS rk
               FROM c)
    SELECT CAST(rk AS INT) AS rk, dim_i, dim_j, corr
    FROM ranked WHERE rk <= {GRAM_TOPK}
    """,
    doc="distributed gram matrix (X^T X) with top-correlated dimension "
    "pairs — the primitive under whitening/PCA/redundant-feature "
    "detection. Each Arrow batch contributes ONE upper-triangle partial "
    "(dim x (dim+1)/2 products + the column-sum vector + a row count) "
    "via mapInPandas, so the shuffle carries dim^2-bounded partials per "
    "batch, NEVER the corpus x dim^2 fan-out a posexplode self-join "
    "would produce; the final reduce is a (i, j)-keyed sum over a few "
    "thousand cells. Pearson corr per pair from the exact moment sums; "
    "top-20 |corr| off-diagonal pairs with (rounded-|corr|, i, j) "
    "tie-break. numpy fp64 batch partials vs DuckDB's exact fold differ "
    "by ~1e-13 relative — round 5 leaves 8 orders of margin.",
    tags=("similarity", "embeddings"),
)
def emb_gram_topcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    sums = _gram_sums(spark, sf_dir)
    n_row = sums.where((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("v").alias("n")
    )
    dsum = sums.where((F.col("j") == -1) & (F.col("i") > 0)).select(
        F.col("i").alias("k"), F.col("v").alias("sk")
    )
    diag = sums.where((F.col("i") > 0) & (F.col("j") == F.col("i"))).select(
        F.col("i").alias("k"), F.col("v").alias("skk")
    )
    moments = dsum.join(diag, "k")
    ma = moments.select(
        F.col("k").alias("i"), F.col("sk").alias("si"), F.col("skk").alias("sii")
    )
    mb = moments.select(
        F.col("k").alias("j"), F.col("sk").alias("sj"), F.col("skk").alias("sjj")
    )
    pairs = (
        sums.where((F.col("i") > 0) & (F.col("j") > F.col("i")))
        .withColumnRenamed("v", "sij")
        .join(F.broadcast(ma), "i")
        .join(F.broadcast(mb), "j")
        .crossJoin(F.broadcast(n_row))
    )
    corr = (F.col("n") * F.col("sij") - F.col("si") * F.col("sj")) / F.sqrt(
        (F.col("n") * F.col("sii") - F.col("si") * F.col("si"))
        * (F.col("n") * F.col("sjj") - F.col("sj") * F.col("sj"))
    )
    from pyspark.sql import Window

    scored = pairs.select(
        F.col("i").alias("dim_i"),
        F.col("j").alias("dim_j"),
        F.round(corr, 5).alias("corr"),
        F.round(F.abs(corr), 5).alias("acorr"),
    )
    # pair table is dim^2-bounded, but keep the same top-k shape as the
    # graph queries: orderBy+limit first, rank window over k rows only
    top = scored.orderBy(F.desc("acorr"), F.asc("dim_i"), F.asc("dim_j")).limit(
        GRAM_TOPK
    )
    w = Window.orderBy(F.desc("acorr"), F.asc("dim_i"), F.asc("dim_j"))
    return top.withColumn("rk", F.row_number().over(w).cast("int")).select(
        "rk", "dim_i", "dim_j", "corr"
    )


PCA_ITERS = 8

# every u_k is referenced TWICE by v_k (FROM + the norm scalar), so the
# CTEs must be MATERIALIZED or DuckDB's inlining expands the unrolled
# chain 2^K times — the SQL image of the same lineage doubling the Spark
# side truncates with localCheckpoint
_PCA_ITER_CTES = "".join(
    f"""
    u{k} AS MATERIALIZED (SELECT c.i AS k, SUM(c.c * v.x) AS x FROM cells c
           JOIN v{k - 1} v ON v.k = c.j GROUP BY 1),
    v{k} AS MATERIALIZED (SELECT k, x / (SELECT sqrt(SUM(x * x)) FROM u{k})
           AS x FROM u{k}),"""
    for k in range(1, PCA_ITERS + 1)
)


@register(
    "emb_pca_power_iteration",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (
        SELECT vec_id, u.idx AS i, u.x
        FROM e, LATERAL (SELECT unnest(v) AS x,
                                unnest(generate_series(1, len(v))) AS idx) u),
    s AS (SELECT i, SUM(x) AS si, CAST(count(*) AS BIGINT) AS n
          FROM dims GROUP BY 1),
    p AS (SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS sij
          FROM dims a JOIN dims b ON b.vec_id = a.vec_id AND b.i >= a.i
          GROUP BY 1, 2),
    cells AS MATERIALIZED (
        SELECT p.i, p.j, (p.sij - sa.si * sb.si / sa.n) / sa.n AS c
        FROM p JOIN s sa ON sa.i = p.i JOIN s sb ON sb.i = p.j
        UNION ALL
        SELECT p.j, p.i, (p.sij - sa.si * sb.si / sa.n) / sa.n
        FROM p JOIN s sa ON sa.i = p.i JOIN s sb ON sb.i = p.j
        WHERE p.j > p.i),
    v0 AS (SELECT i AS k, CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END AS x
           FROM s),{_PCA_ITER_CTES}
    lam AS (SELECT SUM(c.c * va.x * vb.x) AS l
            FROM cells c JOIN v{PCA_ITERS} va ON va.k = c.i
                         JOIN v{PCA_ITERS} vb ON vb.k = c.j),
    tr AS (SELECT SUM(c) AS t FROM cells WHERE i = j)
    SELECT v{PCA_ITERS}.k AS dim, ROUND(v{PCA_ITERS}.x, 5) AS loading,
           ROUND((SELECT l FROM lam), 4) AS eigenvalue,
           ROUND((SELECT l FROM lam) / (SELECT t FROM tr), 5)
               AS explained_var_ratio
    FROM v{PCA_ITERS}
    """,
    doc=f"top principal component via {PCA_ITERS} unrolled distributed "
    "power iterations over the covariance matrix — built from the SAME "
    "one-pass Arrow-batched gram moments as emb_gram_topcorr (shared "
    "scoped-persisted sums, the corpus is scanned exactly once for both "
    "queries in a session). Every iteration is a (cells join vector) "
    "keyed aggregation over dim^2 cells + a 1-row norm broadcast — the "
    "formulation that scales to dims far beyond driver memory, with the "
    "iteration count FIXED so the DuckDB oracle replays the identical "
    "unrolled computation (the kmeans/PageRank gate pattern). Output: "
    "64 loadings + Rayleigh-quotient eigenvalue + explained-variance "
    "ratio; deterministic sign because v0 = e1 is fixed. Convergence to "
    "the true top component depends on the eigengap — on this corpus "
    "the spectrum is nearly flat, so the test asserts the EXACT iterate "
    "(numpy replication) plus a spectrum bracket on the Rayleigh "
    "quotient rather than eigenvector identity; production raises the "
    "iteration count for flat spectra. Fold-order noise ~1e-12 vs "
    "round 5.",
    tags=("similarity", "embeddings"),
)
def emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    sums = _gram_sums(spark, sf_dir)
    n_row = sums.where((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("v").alias("n")
    )
    dsum = sums.where((F.col("j") == -1) & (F.col("i") > 0)).select(
        F.col("i").alias("k"), F.col("v").alias("sk")
    )
    da = dsum.select(F.col("k").alias("i"), F.col("sk").alias("si"))
    db = dsum.select(F.col("k").alias("j"), F.col("sk").alias("sj"))
    upper = (
        sums.where((F.col("i") > 0) & (F.col("j") >= F.col("i")))
        .withColumnRenamed("v", "sij")
        .join(F.broadcast(da), "i")
        .join(F.broadcast(db), "j")
        .crossJoin(F.broadcast(n_row))
        .select(
            "i",
            "j",
            ((F.col("sij") - F.col("si") * F.col("sj") / F.col("n")) / F.col("n")).alias(
                "c"
            ),
        )
    )
    cells = scoped_persist(
        upper.unionAll(
            upper.where(F.col("j") > F.col("i")).select(
                F.col("j").alias("i"), F.col("i").alias("j"), "c"
            )
        )
    )
    v = dsum.select("k", F.when(F.col("k") == 1, 1.0).otherwise(0.0).alias("x"))
    # r16 optimization: the old form computed the norm as a separate
    # 1-row aggregate crossJoined back, which referenced u TWICE — the
    # unrolled lineage doubled per iteration (2^K plan copies) and was
    # held down with an EAGER localCheckpoint per iteration: 8 blocking
    # jobs before the final action. Folding the norm into an
    # unpartitioned window over the SAME dim-bounded u keeps every
    # iteration single-referenced, so the whole 8-step recurrence is ONE
    # lazy linear plan and the query runs as one job (plus the persisted
    # gram pass). The vector is dim rows, so the single-partition window
    # is bounded by construction (same shape the oracle's MATERIALIZED
    # u_k/v_k CTEs replay).
    w_all = Window.partitionBy()
    for _ in range(PCA_ITERS):
        u = (
            cells.join(v, cells.j == v.k)
            .groupBy(cells.i.alias("k2"))
            .agg(F.sum(F.col("c") * F.col("x")).alias("x"))
            .withColumnRenamed("k2", "k")
        )
        v = u.select(
            "k",
            (
                F.col("x")
                / F.sqrt(F.sum(F.col("x") * F.col("x")).over(w_all))
            ).alias("x"),
        )
    v = scoped_persist(v)
    va = v.select(F.col("k").alias("i"), F.col("x").alias("xa"))
    vb = v.select(F.col("k").alias("j"), F.col("x").alias("xb"))
    lam = (
        cells.join(F.broadcast(va), "i")
        .join(F.broadcast(vb), "j")
        .agg(F.sum(F.col("c") * F.col("xa") * F.col("xb")).alias("l"))
    )
    tr = cells.where(F.col("i") == F.col("j")).agg(F.sum("c").alias("t"))
    return (
        v.crossJoin(F.broadcast(lam))
        .crossJoin(F.broadcast(tr))
        .select(
            F.col("k").alias("dim"),
            F.round("x", 5).alias("loading"),
            F.round("l", 4).alias("eigenvalue"),
            F.round(F.col("l") / F.col("t"), 5).alias("explained_var_ratio"),
        )
    )


MKNN_K = 5  # mutual-kNN width for embedding clustering
MKNN_TAU = 0.35  # cosine threshold for the curation-grade thresholded
# variant — the knee of the purity-vs-tau sweep in COVERAGE.md: the
# giant component (491/500 members, purity 0.118) breaks into 82
# clusters (max 21, purity 0.383) while ~55% of vectors stay clustered;
# by tau=0.5 nothing survives on this corpus (max pairwise cos 0.513)


def _mknn_oracle_ctes(tau=None) -> str:
    """Shared DuckDB CTE chain for the mutual-kNN clustering family:
    adaptive-IVF blocking -> candidate cosines (NaN-guarded, optionally
    tau-thresholded) -> top-{MKNN_K} -> mutual filter -> recursive-CTE
    connected components -> `final(vec_id, label, component)` with
    singletons keeping their own id. The tau filter sits BEFORE top-k
    selection — a TIGHTER criterion than post-filtering mutual edges
    (dropping sub-tau candidates can promote lower-ranked >=tau pairs
    into a node's top-k, so the graphs may differ in general); Spark and
    oracle both pre-filter, so the gate is unaffected."""
    tau_sql = f" AND cos >= {tau!r}" if tau is not None else ""
    return f"""
    emb AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label
            FROM embeddings),
    par AS (SELECT GREATEST({IVF_K},
                   CAST(CEIL(COUNT(*) / {NEARDUP_TARGET_CELL}.0) AS BIGINT)) AS k
            FROM emb),
    nz AS (SELECT vec_id, emb FROM emb
           WHERE list_dot_product(emb, emb) > 0),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM nz
             WHERE vec_id < (SELECT k FROM par)),
    assigned AS (
      SELECT vec_id, emb, cent_id FROM (
        SELECT vec_id, emb, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cent_id) AS rn
        FROM (SELECT e.vec_id, e.emb, c.cent_id,
                     list_dot_product(e.emb, c.cemb)
                     / (sqrt(list_dot_product(e.emb, e.emb))
                        * sqrt(list_dot_product(c.cemb, c.cemb))) AS sim
              FROM nz e CROSS JOIN cent c)
      ) WHERE rn <= {NEARDUP_NPROBE}
    ),
    prs AS (
      SELECT u, v, cos FROM (
        SELECT DISTINCT a.vec_id AS u, b.vec_id AS v,
               list_dot_product(a.emb, b.emb)
               / (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(b.emb, b.emb))) AS cos
        FROM assigned a JOIN assigned b
          ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id)
      WHERE NOT isnan(cos){tau_sql}),
    sym AS (SELECT u AS s, v AS d, cos FROM prs
            UNION ALL SELECT v, u, cos FROM prs),
    knn AS (SELECT s, d FROM (
              SELECT s, d, ROW_NUMBER() OVER (PARTITION BY s
                           ORDER BY cos DESC, d) AS rn FROM sym)
            WHERE rn <= {MKNN_K}),
    mutual AS (SELECT k1.s AS u, k1.d AS v
               FROM knn k1 JOIN knn k2 ON k2.s = k1.d AND k2.d = k1.s
               WHERE k1.s < k1.d),
    edges AS (SELECT u AS src, v AS dst FROM mutual
              UNION SELECT v, u FROM mutual),
    verts AS (SELECT DISTINCT src AS vec_id FROM edges),
    reach(a, b) AS (
        SELECT vec_id, vec_id FROM verts
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
    lbl AS (SELECT a AS vec_id, MIN(b) AS component FROM reach GROUP BY a),
    final AS (SELECT emb.vec_id, emb.label,
                     COALESCE(l.component, emb.vec_id) AS component
              FROM emb LEFT JOIN lbl l ON l.vec_id = emb.vec_id)"""


_MKNN_CLUSTER_SELECT = """
    SELECT vec_id, component,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT)
               AS cluster_size
    FROM final
    """

_MKNN_PURITY_TAIL = """,
    cl AS (SELECT component, label, CAST(count(*) AS BIGINT) AS n
           FROM final GROUP BY 1, 2),
    ranked AS (SELECT component, label, n,
                      ROW_NUMBER() OVER (PARTITION BY component
                          ORDER BY n DESC, label) AS rn,
                      CAST(SUM(n) OVER (PARTITION BY component) AS BIGINT)
                          AS n_members
               FROM cl),
    tops AS (SELECT component, label AS majority_label, n AS n_majority,
                    n_members
             FROM ranked WHERE rn = 1)
    SELECT component, n_members, majority_label, n_majority,
           ROUND(n_majority * 1.0 / n_members, 4) AS purity
    FROM tops WHERE n_members >= 2
    """


@register(
    "emb_mutual_knn_cc",
    oracle="WITH RECURSIVE " + _mknn_oracle_ctes() + _MKNN_CLUSTER_SELECT,
    doc="embedding clustering via mutual-kNN graph + star-contraction "
    "connected components — the standard unsupervised grouping pass of "
    "a corpus curation pipeline (mutual-kNN prunes hub edges that plain "
    "kNN graphs accumulate, so clusters follow local density). Fully "
    "composed from gated parts: the ADAPTIVE IVF blocking of "
    "embedding_neardup_adaptive bounds candidate generation (cells "
    "sized to NEARDUP_TARGET_CELL — never an n² cartesian), per-vector "
    "top-5 within candidates is a WindowGroupLimit-bounded rank window, the "
    "mutual filter is one self-join of the bounded kNN edge list, and "
    "the components come from cc_star_contraction (O(log diameter) "
    "rounds). Singleton vectors keep their own id as component. The "
    "oracle replays blocking, kNN, mutuality and a recursive-CTE CC; "
    "cosines are the same double arithmetic both sides, so ordering "
    "ties cannot diverge.",
    tags=("similarity", "dedup", "graph", "llm-pipeline"),
)
def emb_mutual_knn_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    final = _mutual_knn_components(spark, sf_dir, tau=None)
    wc = Window.partitionBy("component")
    return final.select(
        "vec_id", "component", F.count(F.lit(1)).over(wc).alias("cluster_size")
    )


def _mutual_knn_components(spark, sf_dir, tau=None) -> DataFrame:
    """(vec_id, component) for the mutual-kNN clustering; singletons keep
    their own id. ``tau`` (None = off) drops candidate pairs with cosine
    below the threshold BEFORE top-k selection — a TIGHTER criterion
    than dropping sub-threshold mutual edges after (pre-filtering can
    promote lower-ranked >=tau pairs into a node's top-k), applied
    identically on both sides, and it shrinks everything downstream. Non-finite cosines
    (zero-norm embeddings yield 0/0 = NaN) are always filtered: Spark
    orders NaN GREATEST, so an unfiltered NaN would outrank every real
    cosine in the top-k window. Zero-norm vectors themselves
    are excluded from the pairing pipeline up front — they have no
    cosine direction, and under ANSI mode the IVF assignment's division
    would throw — and come out as singletons via the final left-join
    (the oracle's `nz` CTE mirrors the exclusion; the adaptive k still
    derives from the FULL count, matching the oracle's COUNT(*))."""
    from .llm_pipeline import cc_star_contraction

    n = load_table(spark, sf_dir, "embeddings").count()
    emb = _emb(spark, sf_dir)
    nz = emb.where(f"{norm_sql('emb')} > 0")
    keep = "NOT isnan(cos)" + ("" if tau is None else f" AND cos >= {sql_literal(tau)}")
    prs = scoped_persist(
        _cell_pairs(_cells(nz, _neardup_k(n)), "u", "v", "u < v").where(keep).distinct()
    )
    sym = prs.selectExpr("u AS s", "v AS d", "cos").unionAll(
        prs.selectExpr("v AS s", "u AS d", "cos")
    )
    knn = scoped_persist(_top_k(sym, "s", "cos", "d", MKNN_K).select("s", "d"))
    rev = knn.select(F.col("d").alias("s"), F.col("s").alias("d"))
    mutual = knn.join(rev, ["s", "d"]).where(F.col("s") < F.col("d"))
    edges = mutual.select(F.col("s").alias("src"), F.col("d").alias("dst")).unionAll(
        mutual.select(F.col("d").alias("src"), F.col("s").alias("dst"))
    ).distinct()
    labels = cc_star_contraction(edges).select(
        F.col("doc_id").alias("vec_id"), "component"
    )
    return (
        emb.select("vec_id")
        .join(labels, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("component"), F.col("vec_id")).alias("component"),
        )
    )


@register(
    "emb_cluster_purity",
    oracle="WITH RECURSIVE " + _mknn_oracle_ctes() + _MKNN_PURITY_TAIL,
    doc="cluster-quality evaluation for the mutual-kNN clustering: per "
    "multi-member cluster, the majority ground-truth label and its "
    "share (purity) — the standard external-validity check before a "
    "clustering is trusted for curation decisions (complements "
    "emb_knn_label_consistency, which scores the raw kNN graph). "
    "Reuses the gated clustering end to end (blocked candidates → "
    "mutual top-5 → star CC), joins the bounded label dimension, and "
    "rolls up per (cluster, label) — the argmax window is partitioned "
    "by component, never global. Counts exact; purity is one division "
    "of identical integers (deterministic tie-break: larger count, "
    "then smaller label).",
    tags=("similarity", "quality", "evaluation", "llm"),
)
def emb_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cluster_purity(spark, sf_dir, tau=None)


def _cluster_purity(spark, sf_dir, tau=None) -> DataFrame:
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    comps = _mutual_knn_components(spark, sf_dir, tau=tau)
    cl = (
        comps.join(labels, "vec_id")
        .groupBy("component", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_rank = Window.partitionBy("component").orderBy(F.desc("n"), F.asc("label"))
    w_all = Window.partitionBy("component")
    return (
        cl.select(
            "component",
            "label",
            "n",
            F.row_number().over(w_rank).alias("rn"),
            F.sum("n").over(w_all).alias("n_members"),
        )
        .where((F.col("rn") == 1) & (F.col("n_members") >= 2))
        .select(
            "component",
            "n_members",
            F.col("label").alias("majority_label"),
            F.col("n").alias("n_majority"),
            F.round(F.col("n") * 1.0 / F.col("n_members"), 4).alias("purity"),
        )
    )


@register(
    "emb_mutual_knn_cc_thresh",
    oracle="WITH RECURSIVE " + _mknn_oracle_ctes(MKNN_TAU) + _MKNN_CLUSTER_SELECT,
    doc="curation-grade variant of emb_mutual_knn_cc: mutual-kNN edges "
    f"additionally require cosine >= {MKNN_TAU} (MKNN_TAU). The "
    "unthresholded clustering transitively chains weak mutual edges — "
    "round 14's emb_cluster_purity measured 491/500 vectors collapsing "
    "into one cluster at purity 0.118 on the synthetic corpus. The "
    "threshold is applied to candidate pairs BEFORE top-k selection "
    "(a TIGHTER criterion than post-filtering mutual edges — the oracle "
    "pre-filters identically) so every downstream stage shrinks too. Same "
    "composed scale shape as the parent: adaptive-IVF blocked pairs, "
    "two-stage partition-local top-k, k-bounded mutual self-join, "
    "star-contraction CC. Purity-vs-tau curve in COVERAGE.md.",
    tags=("similarity", "dedup", "graph", "llm-pipeline"),
)
def emb_mutual_knn_cc_thresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    final = _mutual_knn_components(spark, sf_dir, tau=MKNN_TAU)
    wc = Window.partitionBy("component")
    return final.select(
        "vec_id", "component", F.count(F.lit(1)).over(wc).alias("cluster_size")
    )


@register(
    "emb_cluster_purity_thresh",
    oracle="WITH RECURSIVE " + _mknn_oracle_ctes(MKNN_TAU) + _MKNN_PURITY_TAIL,
    doc="external-validity check for the thresholded clustering "
    "(emb_mutual_knn_cc_thresh): per multi-member cluster the majority "
    "ground-truth label and its share. This is the receipt that the "
    f"tau={MKNN_TAU} threshold makes the clustering curation-grade — "
    "the unthresholded emb_cluster_purity stays registered as the "
    "negative result on the record.",
    tags=("similarity", "quality", "evaluation", "llm"),
)
def emb_cluster_purity_thresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cluster_purity(spark, sf_dir, tau=MKNN_TAU)


EMB_INCREMENTAL_NEW_MOD = 20  # vec_id % 20 == 0 -> the 5% "new batch"


@register(
    "emb_incremental_neardup",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    par AS (SELECT GREATEST({IVF_K},
                   CAST(CEIL(COUNT(*) / {NEARDUP_TARGET_CELL}.0) AS BIGINT)) AS k
            FROM emb),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM emb
             WHERE vec_id < (SELECT k FROM par)),
    assigned AS (
      SELECT vec_id, emb, cent_id FROM (
        SELECT vec_id, emb, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cent_id) AS rn
        FROM (SELECT e.vec_id, e.emb, c.cent_id,
                     list_dot_product(e.emb, c.cemb)
                     / (sqrt(list_dot_product(e.emb, e.emb))
                        * sqrt(list_dot_product(c.cemb, c.cemb))) AS sim
              FROM emb e CROSS JOIN cent c)
      ) WHERE rn <= {NEARDUP_NPROBE}
    ),
    dups AS (
      SELECT DISTINCT n.vec_id AS vec_new, o.vec_id AS vec_old
      FROM assigned n JOIN assigned o
        ON o.cent_id = n.cent_id AND o.vec_id <> n.vec_id
      WHERE n.vec_id % {EMB_INCREMENTAL_NEW_MOD} = 0
        AND (o.vec_id % {EMB_INCREMENTAL_NEW_MOD} <> 0 OR o.vec_id < n.vec_id)
        AND NOT isnan(list_dot_product(n.emb, o.emb)
            / (sqrt(list_dot_product(n.emb, n.emb))
               * sqrt(list_dot_product(o.emb, o.emb))))
        AND list_dot_product(n.emb, o.emb)
            / (sqrt(list_dot_product(n.emb, n.emb))
               * sqrt(list_dot_product(o.emb, o.emb))) >= {NEARDUP_COS}
    ),
    verdict AS (SELECT vec_new, MIN(vec_old) AS dup_of FROM dups GROUP BY 1)
    SELECT e.vec_id, v.dup_of,
           CAST(v.dup_of IS NULL AS INT) AS keep
    FROM emb e LEFT JOIN verdict v ON v.vec_new = e.vec_id
    WHERE e.vec_id % {EMB_INCREMENTAL_NEW_MOD} = 0
    """,
    doc="INCREMENTAL embedding near-dup — the vector twin of "
    f"dedup_incremental_lsh: a delta batch (vec_id % "
    f"{EMB_INCREMENTAL_NEW_MOD} == 0, ~5%) is checked against the "
    "existing corpus plus earlier same-batch arrivals through the "
    "SHARED adaptive-IVF blocking (the corpus-trained quantizer a "
    "production system persists — new vectors are assigned map-side "
    "against the broadcast centroid array, zero shuffles to assign), "
    "never pairing existing vectors with each other: daily cost is "
    "delta × cell-mates, not corpus². Verdict per new vector: keep, "
    "or dup_of = the smallest earlier cell-mate with cosine >= "
    f"{NEARDUP_COS}. Blocking recall is the IVF nprobe recall the "
    "ann_recall_report family quantifies.",
    tags=("similarity", "dedup", "llm-pipeline", "scale"),
)
def emb_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "embeddings").count()
    emb = _emb(spark, sf_dir)
    m = EMB_INCREMENTAL_NEW_MOD
    pairs = _cell_pairs(
        _cells(emb, _neardup_k(n)),
        "vec_new",
        "vec_old",
        f"vec_new % {m} = 0 AND vec_old != vec_new AND (vec_old % {m} != 0 OR vec_old < vec_new)",
    )
    verdict = (
        # zero-norm guard (ADVICE r15): 0/0 = NaN orders GREATEST in both
        # Spark and DuckDB, so an unguarded `cos >= threshold` would flag
        # a zero-norm delta vector as dup_of every cell-mate — mirror the
        # _mutual_knn_components NaN exclusion (oracle: NOT isnan(...))
        pairs.where(f"NOT isnan(cos) AND cos >= {sql_literal(NEARDUP_COS)}")
        .groupBy("vec_new")
        .agg(F.min("vec_old").alias("dup_of"))
    )
    is_new = F.col("vec_id") % m == 0
    d = emb.select("vec_id").where(is_new)
    return d.join(verdict, d.vec_id == verdict.vec_new, "left").select(
        "vec_id", "dup_of", F.col("dup_of").isNull().cast("int").alias("keep")
    )
