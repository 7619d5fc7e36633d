"""Distributed Lloyd k-means (operators/kmeans.py): convergence,
assignment invariants, and the recall lift it buys the IVF index."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from odc_stac_spark.operators.kmeans import assign_to_centroids, centroids_df, kmeans_fit
from odc_stac_spark.queries.similarity import TOP_K, _vecd
from odc_stac_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", _vecd(F.col("embedding")).alias("emb"))
        .persist()
    )


def test_kmeans_quality_trace_non_decreasing(emb):
    cent, trace = kmeans_fit(emb, k=8, n_iter=4)
    assert len(cent) == 8 and len(trace) == 4
    # Lloyd monotonicity (tiny float slack for the mean-of-cosine proxy)
    for a, b in zip(trace, trace[1:]):
        assert b >= a - 1e-9, trace
    # fitted centroids moved away from the raw init vectors
    init = [list(map(float, r.emb)) for r in emb.orderBy("vec_id").limit(8).collect()]
    assert cent != init


def test_assignment_partition_invariants(emb):
    cent, _ = kmeans_fit(emb, k=8, n_iter=2)
    assigned = assign_to_centroids(emb, centroids_df(emb.sparkSession, cent))
    n = emb.count()
    assert assigned.count() == n  # every vector exactly once
    assert assigned.select("vec_id").distinct().count() == n
    ids = {r.cent_id for r in assigned.select("cent_id").distinct().collect()}
    assert ids <= set(range(8))


def _recall(spark, sf_dir, result_df):
    """top-K recall vs brute force, averaged over queries."""
    from odc_stac_spark.queries.similarity import knn_bruteforce_cosine

    brute = knn_bruteforce_cosine(spark, sf_dir).collect()
    want = {}
    for r in brute:
        want.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in result_df.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recs = [len(got.get(q, set()) & ns) / len(ns) for q, ns in want.items()]
    return sum(recs) / len(recs)


def test_cell_cap_bounds_update_members(emb):
    """ADVICE r12 (medium): the fold's aggregation buffer must be bounded.
    With a binding cell_cap, each updated centroid must be the mean of
    exactly the cap lowest-vec_id members of its cell — verified against
    an independent numpy replication of the capped update."""
    import numpy as np

    from odc_stac_spark.operators.kmeans import DEFAULT_CELL_CAP

    assert DEFAULT_CELL_CAP >= 1024  # sane production bound
    k, cap = 4, 3
    init = [list(map(float, r.emb)) for r in emb.orderBy("vec_id").limit(k).collect()]
    cent, _ = kmeans_fit(emb, k=k, n_iter=1, cell_cap=cap)
    # independent replication: Spark's own assignment to the init
    # centroids fixes cell membership; the capped update must average the
    # cap lowest vec_ids per cell (sorted order, like the fold)
    rows = (
        assign_to_centroids(emb, centroids_df(emb.sparkSession, init))
        .select("vec_id", "cent_id", "emb")
        .collect()
    )
    cells: dict = {}
    for r in rows:
        cells.setdefault(r.cent_id, []).append((r.vec_id, np.array(r.emb)))
    for cid, members in cells.items():
        members.sort(key=lambda m: m[0])
        want = np.mean([m[1] for m in members[:cap]], axis=0)
        assert np.allclose(np.array(cent[cid]), want, rtol=1e-12), cid
    # and the capped fit genuinely differs from the uncapped one when the
    # cap binds (so the gate is live, not vacuous)
    uncapped, _ = kmeans_fit(emb, k=k, n_iter=1)
    assert cent != uncapped


def test_assignment_margin_guards_the_hash_gate(emb):
    """ADVICE r12 (low): the hash-gated kmeans oracle assumes Spark and
    DuckDB agree on every argmax assignment. That is only robust if no
    vector sits within float-noise of two centroids — assert a minimum
    top1-vs-top2 similarity margin on the gate's own configuration
    (IVF_K centroids, 3 Lloyd iterations) so a near-tie that could flip
    under engine vectorization changes fails loudly here first."""
    from pyspark.sql import Window

    from odc_stac_spark.queries.similarity import IVF_K

    cent, _ = kmeans_fit(emb, k=IVF_K, n_iter=3)
    cdf = centroids_df(emb.sparkSession, cent)
    assigned = assign_to_centroids(emb, cdf, keep_sim=True)
    # re-derive top-2 sims per vector (assign_to_centroids keeps top-1)
    dot = F.aggregate(
        F.zip_with("emb", "cemb", lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cent_id"))
    top2 = (
        emb.crossJoin(F.broadcast(cdf))
        .select(
            "vec_id",
            "cent_id",
            (dot / (nrm(F.col("emb")) * nrm(F.col("cemb")))).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .groupBy("vec_id")
        .agg((F.max("sim") - F.min("sim")).alias("gap"))
    )
    min_gap = top2.agg(F.min("gap")).first()[0]
    # double rounding noise is ~1e-16 per op; demand 6+ orders of margin
    assert min_gap > 1e-9, f"near-tied assignment (gap {min_gap}) — hash gate at risk"
    assert assigned.count() == emb.count()


@pytest.mark.parametrize("id_type", ["int", "bigint"])
def test_assignment_ties_go_to_the_lower_cent_id(spark, id_type):
    """Two identical centroids tie on every vector: nprobe=1 keeps the
    lower cent_id (the oracles' ROW_NUMBER order sim DESC, cent_id ASC),
    nprobe=2 returns both in cent_id order with the same sim, and
    cent_id keeps the caller's type."""
    from pyspark.sql.types import StructType

    from odc_stac_spark.session import literal_df

    tied = [0.6, -0.2, 0.3, 0.1]
    far = [-0.6, 0.2, -0.3, -0.1]
    # rows out of id order: the ranking, not the input order, decides
    cent = literal_df(
        spark,
        [(7, tied), (2, far), (3, list(tied))],
        StructType.fromDDL(f"cent_id {id_type}, cemb array<double>"),
    )
    vecs = {10: [0.5, 0.1, 0.2, 0.0], 11: [0.9, -0.4, 0.3, 0.2], 12: [0.1, 0.1, 0.1, 0.1]}
    emb = literal_df(
        spark, list(vecs.items()), StructType.fromDDL("vec_id bigint, emb array<double>")
    )

    def cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot, na, nb = dot + x * y, na + x * x, nb + y * y
        return dot / (na**0.5 * nb**0.5)

    one = assign_to_centroids(emb, cent, keep_sim=True)
    assert one.schema["cent_id"].dataType.simpleString() == id_type
    assert {(r.vec_id, r.cent_id, r.sim) for r in one.collect()} == {
        (v, 3, cos(e, tied)) for v, e in vecs.items()
    }
    two = assign_to_centroids(emb, cent, nprobe=2, keep_sim=True).collect()
    by_vec: dict = {}
    for r in two:
        by_vec.setdefault(r.vec_id, []).append((r.cent_id, r.sim))
    assert by_vec == {v: [(3, cos(e, tied)), (7, cos(e, tied))] for v, e in vecs.items()}
    assert assign_to_centroids(emb, cent, nprobe=2).columns == ["vec_id", "emb", "cent_id"]


def test_kmeans_ivf_recall(spark, sf_dir):
    from odc_stac_spark.queries import load_all

    reg = load_all()
    r_kmeans = _recall(spark, sf_dir, reg["ann_ivf_kmeans_topk"].spark_fn(spark, sf_dir))
    assert r_kmeans >= 0.5, r_kmeans
    # and the result sets are well-formed
    df = reg["ann_ivf_kmeans_topk"].spark_fn(spark, sf_dir)
    per_q = df.groupBy("query_id").count().collect()
    assert all(r["count"] == TOP_K for r in per_q)
