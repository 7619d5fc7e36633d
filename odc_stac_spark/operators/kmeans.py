"""Distributed Lloyd k-means over an embedding column (``array<double>``).

The IVF index family (queries/similarity.py) coarse-quantizes vectors to
centroids; "first K vectors" is a fine deterministic stand-in for the
correctness gate, but real recall needs centroids that follow the data.
This operator runs Lloyd iterations with the cluster in charge of the
O(n·k·d) work:

- **assignment** (:func:`assign_to_centroids`, the one cosine assigner
  of the IVF family) scores each vector against a broadcast one-row
  centroid array in one SQL expression — map-side, no shuffle;
- **update** is one groupBy over at most k groups with per-dimension
  ``avg`` columns — partial aggregation map-side, k×d scalars collected;
- the driver only ever holds the k centroid vectors (k·d floats).

Scale notes (100 TB): fit on a deterministic sample (`pmod(xxhash64(id))`
gate) rather than the full corpus — centroid quality saturates long
before 10⁹ points — then assign the full corpus once and bucket/partition
by ``cent_id`` so probes prune partitions. Spark MLlib's KMeans(``||``
init) is the drop-in upgrade when nondeterministic init is acceptable;
this implementation keeps init deterministic (first k by id) so runs are
reproducible.

Determinism (VERDICT r11 #4): the centroid update is a PER-CELL SORTED
SEQUENTIAL FOLD — members are collected per cell, sorted by ``vec_id``,
and summed dimension-wise with a left fold (``F.aggregate`` over a zero
vector), then divided by the member count. Every float op therefore runs
in a fixed order, so centroids are bit-reproducible across runs AND
engines (the DuckDB oracle replays the identical fold via
``list(emb ORDER BY vec_id)`` + ``list_reduce`` over a prepended zero
vector), which is what lets ``ann_ivf_kmeans_topk`` carry a value-hash
oracle. Cost note: the fold materializes each cell's member list in one
aggregation buffer — bounded because kmeans_fit ENFORCES a per-cell
member cap before the fold (see ``DEFAULT_CELL_CAP``; ADVICE r12 made
the formerly-advisory fit-on-sample discipline a hard gate), while the
full-corpus ASSIGN step stays a streaming broadcast join.
"""

from __future__ import annotations

from typing import List, Tuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import StructType

from ..session import literal_df


def dot_sql(a: str, b: str) -> str:
    """Dot product of two array expressions as SQL text: the sequential
    float64 left fold of the oracles' ``list_dot_product(a, b)``. Every
    cosine of the similarity family is this fold; ``aggregate`` and
    ``zip_with`` lambdas are interpreted, not whole-stage-codegen'd, but
    one SQL text is one parser call however many columns use it."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (s, x) -> s + x)"


def norm_sql(a: str) -> str:
    """L2 norm of an array expression as SQL text: the sequential float64
    fold of the oracles' ``sqrt(list_dot_product(v, v))``, so a norm
    computed once (a centroid's, or one hoisted out of a pair join) has
    the bits of one computed per row."""
    return f"sqrt(aggregate({a}, 0D, (s, x) -> s + x * x))"


def cos_sql(a: str, b: str, na: str = "", nb: str = "") -> str:
    """Cosine of two array expressions as SQL text,
    ``dot / (norm(a) * norm(b))`` — the oracles' operation order. ``na``
    and ``nb`` name norms computed earlier with :func:`norm_sql`."""
    return f"{dot_sql(a, b)} / ({na or norm_sql(a)} * {nb or norm_sql(b)})"


def centroid_array(cent: DataFrame) -> DataFrame:
    """``cent``'s ``(cent_id, cemb)`` rows as ONE row: ``carr``, the
    cent_id-sorted array of ``(cent_id, cemb, cnrm)`` structs.

    ``cent`` must be bounded (k rows): the array is a two-stage
    ``collect_list`` aggregate, and callers broadcast its single row to
    every corpus task, so the centroids travel as data, once, rather than
    as plan literals folded into every build. The centroid norm ``cnrm``
    is computed here once per centroid instead of once per (row,
    centroid) pair; it is the same fold, so the same bits."""
    c = f"named_struct('cent_id', cent_id, 'cemb', cemb, 'cnrm', {norm_sql('cemb')})"
    return cent.selectExpr(f"array_sort(collect_list({c})) AS carr")


def assign_to_centroids(
    emb: DataFrame, cent: DataFrame, nprobe: int = 1, keep_sim: bool = False
) -> DataFrame:
    """(vec_id, emb) → (vec_id, emb, cent_id[, sim]): one row per each of
    the vector's ``nprobe`` nearest centroids by cosine, ranked by
    (sim DESC, cent_id ASC) — the oracles' ROW_NUMBER order, so ties go
    to the lower cent_id. ``cent`` is a bounded ``(cent_id, cemb)``
    DataFrame; ``cent_id`` keeps its type.

    Map-side: the corpus crossJoins :func:`centroid_array`'s broadcast
    row, and one SQL expression scores the row against every centroid
    and sorts the (−sim, cent_id) pairs, so the corpus is never
    shuffled (a crossJoin + row_number window would push k× the corpus
    through an exchange, and the full-corpus assignment is the dominant
    pass of every IVF-family operator at scale). The plan is the same
    whatever the centroid values, so Lloyd iterations reuse codegen.
    ``sim`` is the exact ``dot / (row_norm * cnrm)`` the oracles compute:
    negation is exact."""
    ranked = (
        f"array_sort(transform(carr, c -> named_struct("
        f"'negsim', -({cos_sql('emb', 'c.cemb', nb='c.cnrm')}), 'cent_id', c.cent_id)))"
    )
    cols = ["vec_id", "emb", "best.cent_id AS cent_id"] + (["-best.negsim AS sim"] if keep_sim else [])
    return (
        emb.crossJoin(F.broadcast(centroid_array(cent)))
        .selectExpr("vec_id", "emb", f"explode(slice({ranked}, 1, {int(nprobe)})) AS best")
        .selectExpr(*cols)
    )


def centroids_df(spark, cent: List[List[float]]) -> DataFrame:
    """Driver-side centroid vectors as a ``(cent_id int, cemb)`` table,
    ``cent_id`` = list position."""
    schema = StructType.fromDDL("cent_id int, cemb array<double>")
    return literal_df(spark, list(enumerate(cent)), schema)


DEFAULT_CELL_CAP = 4096
"""Hard per-cell bound on the fold's aggregation buffer (ADVICE r12).

The deterministic update collects each cell's members into ONE
collect_list buffer — bounded memory requires bounded cells, and the
"fit on a sample" discipline documented above must be ENFORCED, not
advisory. kmeans_fit therefore caps every cell at its ``cell_cap``
lowest-``vec_id`` members before the fold (a row_number window over
``cent_id`` — spills, never buffers a cell in memory), so a hot cell at
100 TB contributes at most cap×dim doubles to any task. The cap is
deterministic and SQL-replayable (``QUALIFY row_number() OVER
(PARTITION BY cent_id ORDER BY vec_id) <= cap``), so the hash-gated
oracle mirrors it exactly. At the test scales every cell is far below
the cap, so capped and uncapped fits are bit-identical there."""


def kmeans_fit(
    emb: DataFrame, k: int, n_iter: int = 4, cell_cap: int = DEFAULT_CELL_CAP
) -> Tuple[List[List[float]], List[float]]:
    """Lloyd iterations; returns (centroids, per-iteration mean cosine of
    capped-cell members to their assigned centroid — a fit-quality
    trace). ``emb`` columns: (vec_id, emb array<double>). Init = first k
    vectors by vec_id (deterministic). Each cell's update uses at most
    ``cell_cap`` members (lowest vec_id first — see DEFAULT_CELL_CAP)."""
    dim = len(emb.select("emb").first().emb)
    cent = [list(map(float, r.emb)) for r in emb.orderBy("vec_id").limit(k).collect()]
    trace: List[float] = []
    zero = F.array_repeat(F.lit(0.0), dim)
    w_cap = Window.partitionBy("cent_id").orderBy("vec_id")
    for _ in range(n_iter):
        assigned = (
            assign_to_centroids(emb, centroids_df(emb.sparkSession, cent), keep_sim=True)
            .withColumn("crn", F.row_number().over(w_cap))
            .where(F.col("crn") <= cell_cap)
        )
        # deterministic update: sort each cell's members by vec_id, then a
        # sequential left fold sums dimension-wise in that fixed order
        # (((0+e1)+e2)+...)/n — bit-reproducible, unlike shuffle-order avg
        members = F.array_sort(F.collect_list(F.struct("vec_id", "emb")))
        summed = F.aggregate(
            F.col("ms"),
            zero,
            lambda acc, m: F.zip_with(acc, m["emb"], lambda x, y: x + y),
        )
        stats = (
            assigned.groupBy("cent_id")
            .agg(
                members.alias("ms"),
                F.avg("sim").alias("q"),
                F.count(F.lit(1)).cast("double").alias("n"),
            )
            .select(
                "cent_id",
                F.transform(summed, lambda x: x / F.col("n")).alias("c"),
                "q",
                "n",
            )
            .collect()
        )
        trace.append(sum(r.q * r.n for r in stats) / sum(r.n for r in stats))
        new_cent = list(cent)  # empty clusters keep their centroid
        for r in stats:
            new_cent[r.cent_id] = [float(v) for v in r.c]
        cent = new_cent
    return cent, trace
