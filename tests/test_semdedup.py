"""SemDeDup-style semantic dedup (dedup_semantic_clusters): behavioral
invariants beyond the DuckDB hash gate in test_oracle.py.

Paper rule (Abbas et al. 2023, arXiv:2303.09540): within each embedding
cluster, duplicate groups (pairwise cosine >= eps) keep only the member
LEAST similar to its centroid — pruning the redundant core of each
cluster while preserving its diverse boundary.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from odc_stac_spark.queries.similarity import (
    SEMDEDUP_COS,
    dedup_semantic_clusters,
)


def _sq(v):
    return F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)


def _cos(a, b):
    """Reference cosine as a Column fold, independent of the query code."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    return dot / (F.sqrt(_sq(a)) * F.sqrt(_sq(b)))


def test_semdedup_invariants(spark, sf_dir):
    rows = dedup_semantic_clusters(spark, sf_dir).collect()
    by_id = {r.vec_id: r for r in rows}

    # every vector gets exactly one decision
    assert len(by_id) == len(rows) > 0
    # something was actually deduplicated at the synthetic threshold,
    # and something survived
    kept = [r for r in rows if r.kept]
    dropped = [r for r in rows if not r.kept]
    assert kept and dropped

    # the keep rule is diversity-preserving: within every (cluster,
    # duplicate-adjacent) set, the member with the globally minimal
    # centroid similarity is never dropped — verify on a brute-force
    # recomputation of the same-cluster cosine graph
    from odc_stac_spark.queries.similarity import _vecd
    from odc_stac_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _vecd(F.col("embedding")).alias("emb")
    )
    a = emb.select(F.col("vec_id").alias("va"), F.col("emb").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vb"), F.col("emb").alias("eb"))
    cos = _cos(F.col("ea"), F.col("eb"))
    pairs = (
        a.crossJoin(b)
        .where(F.col("va") < F.col("vb"))
        .select("va", "vb", cos.alias("cos"))
        .where(F.col("cos") >= SEMDEDUP_COS)
        .collect()
    )
    same_cluster_pairs = [
        p
        for p in pairs
        if by_id[p.va].cent_id == by_id[p.vb].cent_id
    ]
    assert same_cluster_pairs, "threshold should produce in-cluster duplicates"
    for p in same_cluster_pairs:
        ra, rb = by_id[p.va], by_id[p.vb]
        if abs(ra.cent_sim - rb.cent_sim) < 1e-5:
            # cent_sim is reported rounded to 6 digits; near-ties could
            # disagree with the query's full-precision comparison
            continue
        # of any duplicate pair, the more centroid-similar member must be
        # dropped (it cannot be kept while its partner exists)
        loser = rb if ra.cent_sim < rb.cent_sim else ra
        assert not loser.kept, (p, ra, rb)

    # every dropped vector has at least one in-cluster duplicate partner
    dup_ids = {p.va for p in same_cluster_pairs} | {p.vb for p in same_cluster_pairs}
    for r in dropped:
        assert r.vec_id in dup_ids
