"""Invariant tests for the round-14 operators — semantics the DuckDB hash
gate cannot express (the gate proves Spark==SQL; these prove the SHARED
semantics are the intended ones)."""

from __future__ import annotations

import pyspark.sql.functions as F

from odc_stac_spark.queries import llm_pipeline, load_all
from odc_stac_spark.queries.llm_pipeline import cc_star_contraction
from .test_catalog_path import _jobs_in

REGISTRY = load_all()


def _sym_edges(spark, pairs):
    df = spark.createDataFrame(pairs, "src long, dst long")
    return df.union(df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()


def _both_sides(monkeypatch, labels):
    """``labels()`` as a {doc_id: component} dict, computed once on each
    side of the driver-CC edge bound (driver union-find at the default
    bound, star contraction with the bound at 0); both must agree."""
    driver = {r["doc_id"]: r["component"] for r in labels().collect()}
    with monkeypatch.context() as m:
        m.setattr(llm_pipeline, "DRIVER_CC_MAX_EDGES", 0)
        star = {r["doc_id"]: r["component"] for r in labels().collect()}
    assert driver == star
    return driver


def test_cc_star_path_graph_diameter_independent(spark, monkeypatch):
    """A 64-hop chain: plain min-label propagation needs 64 rounds; star
    contraction must converge in ~log2(64) rounds AND label every node
    with the chain minimum."""
    edges = _sym_edges(spark, [(i, i + 1) for i in range(64)])
    out = _both_sides(monkeypatch, lambda: cc_star_contraction(edges))
    assert len(out) == 65
    assert set(out.values()) == {0}


def test_cc_small_graph_runs_count_and_collect(spark, monkeypatch):
    """Below the edge bound the 64-hop chain costs the edge count and one
    collect, and its labels are a sorted one-partition literal relation
    typed like the input; star contraction spends more jobs on it. Under
    AQE the count is a map-stage job plus a result job (the map-stage job
    is not always tagged with the job group, hence at most, not exactly,
    three)."""
    pairs = [(i, i + 1) for i in range(64)]
    edges = spark.createDataFrame(pairs + [(b, a) for a, b in pairs], "src long, dst long")
    labels, jobs = _jobs_in(spark, "cc_small", lambda: cc_star_contraction(edges))
    assert jobs <= 3
    assert "LocalTableScan" in labels._jdf.queryExecution().executedPlan().toString()
    assert labels.rdd.getNumPartitions() == 1
    assert labels.collect() == [(i, 0) for i in range(65)]
    assert labels.dtypes == [("doc_id", "bigint"), ("component", "bigint")]
    monkeypatch.setattr(llm_pipeline, "DRIVER_CC_MAX_EDGES", 0)
    _, star_jobs = _jobs_in(spark, "cc_star", lambda: cc_star_contraction(edges))
    assert star_jobs > 3


def test_cc_star_multi_component(spark, monkeypatch):
    """Three components of different shapes (chain, triangle+pendant,
    isolated edge) — each node labels with its component minimum."""
    pairs = [(10, 11), (11, 12), (12, 13)]          # chain, min 10
    pairs += [(20, 21), (21, 22), (20, 22), (22, 23)]  # triangle+pendant, min 20
    pairs += [(30, 31)]                              # edge, min 30
    edges = _sym_edges(spark, pairs)
    out = _both_sides(monkeypatch, lambda: cc_star_contraction(edges))
    assert {k: v for k, v in out.items() if k < 20} == {i: 10 for i in (10, 11, 12, 13)}
    assert {k: v for k, v in out.items() if 20 <= k < 30} == {i: 20 for i in (20, 21, 22, 23)}
    assert {k: v for k, v in out.items() if k >= 30} == {30: 30, 31: 30}


def test_cc_star_matches_label_propagation_on_corpus(spark, sf_dir, monkeypatch):
    """The driver union-find and star contraction converge to the same
    min-reachable-id labels on the real near-dup pair graph, under both
    registry names."""
    for name in ("dedup_connected_components", "dedup_cc_star_contraction"):
        out = _both_sides(monkeypatch, lambda: REGISTRY[name].spark_fn(spark, sf_dir))
        assert len(out) > 0
        assert all(c <= d for d, c in out.items())


def test_cc_star_high_degree_hub(spark, monkeypatch):
    """A star-of-stars (hub 0 linked to 5 sub-hubs, each with 10 leaves):
    exactly one component labeled 0, all 56 nodes present."""
    pairs = []
    nid = 1
    for _ in range(5):
        hub = nid
        nid += 1
        pairs.append((0, hub))
        for _ in range(10):
            pairs.append((hub, nid))
            nid += 1
    edges = _sym_edges(spark, pairs)
    out = _both_sides(monkeypatch, lambda: cc_star_contraction(edges))
    assert len(out) == 56
    assert set(out.values()) == {0}


def test_containment_catches_what_jaccard_misses(spark, sf_dir):
    """Every emitted pair has containment >= 0.8; roles are deterministic
    (contained doc has <= shingles of the container); and containment is
    always >= jaccard (they agree only when shingle sets are equal-sized)."""
    out = REGISTRY["text_containment_dedup"].spark_fn(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["containment"] >= 0.8
        assert r["containment"] >= r["jaccard"] - 1e-9
        assert r["doc_contained"] != r["doc_container"]


def test_containment_subdocument_synthetic(spark, tmp_path):
    """A short doc fully embedded in a much longer one: Jaccard is far
    below the 0.5 near-dup threshold, containment is exactly 1.0 — the
    case the operator exists for."""
    import os

    small = "alpha beta gamma delta epsilon zeta eta theta"
    big = small + " " + " ".join(f"tok{i} filler{i} pad{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, small, "en", "web"), (2, big, "en", "web")],
        "doc_id long, text string, lang string, source string",
    )
    df.write.mode("overwrite").parquet(os.path.join(str(tmp_path), "documents.parquet"))
    from odc_stac_spark.queries.dedup import text_containment_dedup, dedup_ngram_jaccard

    pairs = {(r["doc_contained"], r["doc_container"]): r
             for r in text_containment_dedup(spark, str(tmp_path)).collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)]["containment"] == 1.0
    assert pairs[(1, 2)]["jaccard"] < 0.5  # symmetric Jaccard misses it
    assert dedup_ngram_jaccard(spark, str(tmp_path)).count() == 0


def test_split_leakage_consistency(spark, sf_dir):
    """The audit's totals must agree with independently recomputed split
    sizes, and contaminated counts can never exceed cross-split counts."""
    out = {r["split"]: r for r in REGISTRY["split_leakage_audit"].spark_fn(spark, sf_dir).collect()}
    assert set(out) == {"train", "val", "test"}
    splits = REGISTRY["docs_train_val_split"].spark_fn(spark, sf_dir)
    sizes = {r["split"]: r["count"] for r in splits.groupBy("split").count().collect()}
    for s, r in out.items():
        assert r["n_docs"] == sizes[s]
        assert 0 <= r["n_contaminated_by_train"] <= r["n_crosssplit_neardup"] <= r["n_docs"]
    assert out["train"]["n_contaminated_by_train"] == 0  # by definition


def test_key_skew_report_vs_naive(spark, sf_dir):
    """The histogram-derived report must equal a naive full-sort
    computation of the same statistics (including exact Gini)."""
    from odc_stac_spark.sources.tables import load_table

    out = REGISTRY["dq_key_skew_report"].spark_fn(spark, sf_dir).collect()[0]
    counts = sorted(
        r["count"]
        for r in load_table(spark, sf_dir, "events").groupBy("user_id").count().collect()
    )
    n = len(counts)
    total = sum(counts)
    assert out["n_keys"] == n
    assert out["n_events"] == total
    assert out["max_per_key"] == counts[-1]
    # percentile definition: smallest c with cum-keys*100 >= q*n,
    # recomputed via histogram semantics
    import collections
    hist = collections.Counter(counts)
    cum = 0
    p50 = p99 = None
    for c in sorted(hist):
        cum += hist[c]
        if p50 is None and cum * 100 >= 50 * n:
            p50 = c
        if p99 is None and cum * 100 >= 99 * n:
            p99 = c
    assert out["p50_per_key"] == p50 and out["p99_per_key"] == p99
    assert out["top_share_ppm"] == counts[-1] * 1000000 // total
    s = sum((i + 1) * c for i, c in enumerate(counts))
    gini = (2 * s - (n + 1) * total) / (n * total)
    assert abs(out["gini"] - round(gini, 6)) < 2e-6


def test_mutual_knn_cc_invariants(spark, sf_dir):
    """Every vector appears exactly once; cluster_size equals the actual
    component population; components are labeled by their min member;
    and clusters are mutuality-connected (size>1 components only arise
    from mutual top-k edges, so no component may exceed the corpus)."""
    import collections

    rows = REGISTRY["emb_mutual_knn_cc"].spark_fn(spark, sf_dir).collect()
    n = (
        REGISTRY["emb_dim_stats"].spark_fn(spark, sf_dir)
        .limit(1)
        .collect()[0]["n"]
    )
    assert len(rows) == n
    assert len({r["vec_id"] for r in rows}) == n
    sizes = collections.Counter(r["component"] for r in rows)
    for r in rows:
        assert r["cluster_size"] == sizes[r["component"]]
        assert r["component"] <= r["vec_id"] or sizes[r["component"]] > 1
    for comp, members in sizes.items():
        assert comp == min(r["vec_id"] for r in rows if r["component"] == comp)


def test_scd2_intervals_tile_the_timeline(spark, sf_dir):
    """Per customer: versions are 1..N contiguous, intervals chain exactly
    (valid_to == next valid_from), only the last is open, and consecutive
    versions always change the tracked attribute (change-aware
    compaction: no two adjacent versions share a priority)."""
    from collections import defaultdict

    rows = REGISTRY["cdc_scd2_intervals"].spark_fn(spark, sf_dir).collect()
    by_cust = defaultdict(list)
    for r in rows:
        by_cust[r["o_custkey"]].append(r)
    assert by_cust
    for cust, vs in by_cust.items():
        vs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in vs] == list(range(1, len(vs) + 1))
        for a, b in zip(vs, vs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["priority"] != b["priority"]
            # same-day changes give zero-length intervals at DATE
            # granularity — monotone, not strictly increasing
            assert a["valid_from"] <= b["valid_from"]
        assert vs[-1]["valid_to"] is None  # open current version
        assert all(v["valid_to"] is not None for v in vs[:-1])


def test_stream_key_skew_equals_batch(spark, sf_dir):
    """The streaming image must reproduce the batch report row exactly
    (same maintained counts → same histogram → same Gini)."""
    batch = REGISTRY["dq_key_skew_report"].spark_fn(spark, sf_dir).collect()[0]
    stream = REGISTRY["t_stream_key_skew"].spark_fn(spark, sf_dir).collect()[0]
    assert batch.asDict() == stream.asDict()


def test_cluster_purity_consistency(spark, sf_dir):
    """Purity rows must agree with an independent recomputation from the
    clustering + labels (majority by (count desc, label asc), n_members
    from ALL members, singletons excluded)."""
    import collections

    from odc_stac_spark.sources.tables import load_table

    comps = {
        r["vec_id"]: r["component"]
        for r in REGISTRY["emb_mutual_knn_cc"].spark_fn(spark, sf_dir).collect()
    }
    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    }
    by_comp = collections.defaultdict(list)
    for v, c in comps.items():
        by_comp[c].append(labels[v])
    out = {r["component"]: r for r in REGISTRY["emb_cluster_purity"].spark_fn(spark, sf_dir).collect()}
    expect = {c: ls for c, ls in by_comp.items() if len(ls) >= 2}
    assert set(out) == set(expect)
    for c, ls in expect.items():
        cnt = collections.Counter(ls)
        best = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        r = out[c]
        assert r["n_members"] == len(ls)
        assert (r["majority_label"], r["n_majority"]) == best
        assert abs(r["purity"] - round(best[1] / len(ls), 4)) < 1e-9


def test_pk_audit_detects_duplicates_and_nulls(spark, tmp_path, sf_dir):
    """On the real fixtures every PK is clean (dup_rows=0, null_keys=0,
    n_rows=n_keys); on a corrupted copy the audit must count the
    injected duplicate and null."""
    import os
    import shutil

    rows = REGISTRY["dq_pk_uniqueness_audit"].spark_fn(spark, sf_dir).collect()
    assert len(rows) == 9
    for r in rows:
        assert r["dup_rows"] == 0 and r["null_keys"] == 0
        assert r["n_rows"] == r["n_keys"] > 0
    # corrupted copy: duplicate one region key, null another
    bad = str(tmp_path)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "events", "documents", "embeddings"):
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(bad, f"{t}.parquet")
        (shutil.copytree if os.path.isdir(src) else shutil.copyfile)(src, dst)
    from odc_stac_spark.sources.tables import load_table

    reg = load_table(spark, sf_dir, "region")
    corrupted = reg.unionAll(reg.limit(1)).unionAll(
        reg.limit(1).select(
            F.lit(None).cast("long").alias("r_regionkey"),
            *[F.col(c) for c in reg.columns if c != "r_regionkey"],
        ).select(reg.columns)
    )
    corrupted.write.mode("overwrite").parquet(os.path.join(bad, "region.parquet"))
    out = {r["tbl"]: r for r in REGISTRY["dq_pk_uniqueness_audit"].spark_fn(spark, bad).collect()}
    r = out["region"]
    assert r["n_rows"] == reg.count() + 2
    assert r["dup_rows"] == 2  # the duplicate AND the null row (distinct skips null)
    assert r["null_keys"] == 1
