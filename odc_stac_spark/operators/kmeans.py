"""Distributed Lloyd k-means over an embedding column (``array<double>``).

The IVF index family (queries/similarity.py) coarse-quantizes vectors to
centroids; "first K vectors" is a fine deterministic stand-in for the
correctness gate, but real recall needs centroids that follow the data.
This operator runs Lloyd iterations with the cluster in charge of the
O(n·k·d) work:

- **assignment** is a broadcast crossJoin (k rows) + per-vector top-1
  window — all JVM expressions (``zip_with``/``aggregate`` folds), one
  shuffle per iteration for the window;
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


def _cos(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    return dot / (na * nb)


def _seqnorm(vec) -> float:
    """Sequential left-fold x*x then sqrt — the bit-identical Python image
    of the Catalyst `_cos` norm fold (r16: lets centroid norms ship as
    literals instead of being re-folded once per corpus row per
    centroid)."""
    import math

    acc = 0.0
    for v in vec:
        acc = acc + float(v) * float(v)
    return math.sqrt(acc)


def assign_to_centroids(
    emb: DataFrame, centroids: List[List[float]], keep_sim: bool = False
) -> DataFrame:
    """(vec_id, emb) → + cent_id: nearest centroid by cosine, ties →
    cent_id asc.

    MAP-SIDE (r13): the centroids arrive as ONE broadcast row holding a
    cent_id-sorted (cent_id, cemb, cnrm) struct array and the argmax is a
    deterministic left fold over that array — ZERO shuffle of the corpus.
    The pre-r13 shape (broadcast k-row crossJoin + a row_number window
    over vec_id) pushed k× the corpus through a window exchange; at
    100 TB the full-corpus assign step IS the dominant pass, so it must
    not shuffle at all. r16 moved the array from a PLAN LITERAL to a
    broadcast 1-row table: every Lloyd iteration previously embedded
    k×dim fresh literals, which made each iteration's plan textually
    unique — full Catalyst analysis + whole-stage codegen compile per
    iteration (driver-side, serial). With the centroids as data the plan
    is structurally identical across iterations, so codegen is compiled
    once and cached; the per-centroid norm ships precomputed (cnrm, the
    bit-identical sequential fold) instead of being re-folded per corpus
    row. Float semantics are unchanged: the cosine is the identical
    fold arithmetic per (vector, centroid) pair, and the strictly-
    greater fold keeps the FIRST maximum over the cent_id-ascending
    array — the same winner as the window's (sim DESC, cent_id ASC)
    order — so every hash-gated oracle image is preserved bit-for-bit."""
    spark = emb.sparkSession
    cdf = literal_df(
        spark,
        [
            (i, [float(v) for v in c], _seqnorm(c))
            for i, c in enumerate(centroids)
        ],
        StructType.fromDDL("cent_id int, cemb array<double>, cnrm double"),
    )
    carr_df = cdf.select(
        F.struct("cent_id", "cemb", "cnrm").alias("c")
    ).agg(F.array_sort(F.collect_list("c")).alias("carr"))
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )
    rnorm = lambda a: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )
    cands = F.transform(
        F.col("carr"),
        lambda c: F.struct(
            c["cent_id"].alias("cent_id"),
            (dot(F.col("emb"), c["cemb"]) / (rnorm(F.col("emb")) * c["cnrm"])).alias(
                "sim"
            ),
        ),
    )
    best = F.aggregate(
        cands,
        F.struct(
            F.lit(-1).cast("int").alias("cent_id"),
            F.lit(float("-inf")).alias("sim"),
        ),
        lambda acc, c: F.when(c["sim"] > acc["sim"], c).otherwise(acc),
    )
    cols = ["vec_id", "emb", F.col("best.cent_id").alias("cent_id")] + (
        [F.col("best.sim").alias("sim")] if keep_sim else []
    )
    return (
        emb.crossJoin(F.broadcast(carr_df))
        .withColumn("best", best)
        .select(*cols)
    )


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
            assign_to_centroids(emb, cent, keep_sim=True)
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
