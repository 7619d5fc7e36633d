"""Product quantization ANN — operators/pq.py (recall-gated: PQ is
iterative + float-order sensitive, so no SQL oracle)."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from odc_stac_spark.operators.pq import encode_pq, pq_adc_topk, train_pq
from odc_stac_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return (
        load_table(spark, SF, "embeddings")
        .select("vec_id", F.col("embedding").alias("emb"))
        .persist()
    )


@pytest.fixture(scope="module")
def fitted(spark, emb):
    books = train_pq(emb, m=32, k=32, n_iter=5)
    codes = encode_pq(emb, books).persist()
    return books, codes


def test_codebook_shapes_and_codes(emb, fitted):
    books, codes = fitted
    assert books.shape == (32, 32, 2)
    rows = codes.collect()
    assert len(rows) == emb.count()
    for r in rows[:20]:
        assert len(r.codes) == 32
        assert all(0 <= c < 32 for c in r.codes)


def test_adc_recall_vs_exact(spark, emb, fitted):
    books, codes = fitted
    rows = emb.orderBy("vec_id").collect()
    X = np.array([r.emb for r in rows])
    ids = np.array([r.vec_id for r in rows])
    queries = [(int(ids[i]), [float(v) for v in X[i]]) for i in range(0, 60, 6)]
    got = pq_adc_topk(codes, books, queries, topk=10).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id))
    recalls = []
    for qid, vec in queries:
        d = ((X - np.asarray(vec)) ** 2).sum(1)
        exact = set(ids[np.argsort(d)[:10]].tolist())
        approx = {v for _, v in by_q[qid]}
        assert len(approx) == 10
        recalls.append(len(exact & approx) / 10)
    # 32x32 codebooks at dim 64 = 12.8x compression; random guessing would
    # score 10/500 = 0.02
    assert np.mean(recalls) >= 0.5, recalls
    assert min(recalls) >= 0.2, recalls


def test_self_query_ranks_first(emb, fitted):
    """A corpus vector queried against the index must rank itself #1
    (its reconstruction is its own nearest codeword set)."""
    books, codes = fitted
    rows = emb.orderBy("vec_id").limit(5).collect()
    queries = [(int(r.vec_id), [float(v) for v in r.emb]) for r in rows]
    got = pq_adc_topk(codes, books, queries, topk=3).collect()
    top1 = {r.query_id: r.vec_id for r in got if r.rank == 1}
    hits = sum(1 for qid, vid in top1.items() if qid == vid)
    assert hits >= 4  # ties can demote at most rarely


def test_scan_reads_only_codes(spark, fitted, tmp_path):
    """Query-time plan over a PERSISTED code table must not touch the
    float embeddings anywhere — the serving scan is codes-only (the
    100 TB property: 20 bytes/vector scanned, not 256)."""
    books, codes = fitted
    path = str(tmp_path / "pq_codes")
    codes.write.parquet(path)
    served = spark.read.parquet(path)
    q = pq_adc_topk(served, books, [(0, [0.0] * 64)], topk=5)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "embedding" not in plan
    assert "pq_codes" in plan


def test_two_stage_topk_exchange_is_bounded(spark, emb, fitted):
    """Stage-1 scan must emit per-batch local top-k, so the global
    ranking exchange carries ≤ batches × nq × topk rows — not every
    (vector, query) pair (the 100 TB shuffle bound VERDICT r6 asked
    for) — while the final top-k is identical to an unbounded rank."""
    from odc_stac_spark.operators.pq import pq_adc_candidates

    books, codes = fitted
    rows = emb.orderBy("vec_id").limit(5).collect()
    queries = [(int(r.vec_id), [float(v) for v in r.emb]) for r in rows]
    topk = 7
    cands = pq_adc_candidates(codes, books, queries, topk=topk)
    nparts = codes.rdd.getNumPartitions()
    n_corpus = codes.count()
    bound = nparts * len(queries) * topk  # ≥1 Arrow batch per partition here
    assert cands.count() <= bound < n_corpus * len(queries)
    # per (query, partition-batch) no more than topk survive
    per = cands.groupBy("query_id").count().collect()
    assert all(r["count"] <= nparts * topk for r in per)
    # and the two-stage result equals a rank over the FULL scored set
    import pandas as pd
    from pyspark.sql import Window

    full = codes.toPandas()
    X = np.array([np.asarray(c, np.int64) for c in full["codes"]])
    m, k, ds = books.shape
    q = np.array([v for _, v in queries]).reshape(-1, m, ds)
    luts = ((q[:, :, None, :] - books[None, :, :, :]) ** 2).sum(-1)
    got = pq_adc_topk(codes, books, queries, topk=topk).toPandas()
    for i, (qid, _) in enumerate(queries):
        d = luts[i, np.arange(m)[None, :], X].sum(-1)
        order = np.lexsort((full["vec_id"].values, d))[:topk]
        want = full["vec_id"].values[order]
        have = got[got.query_id == qid].sort_values("rank")["vec_id"].values
        np.testing.assert_array_equal(have, want)


def test_ivfpq_prunes_and_recalls(spark, emb, fitted):
    """IVF-PQ: coarse cells prune the ADC scan; recall stays useful."""
    from odc_stac_spark.operators.pq import ivfpq_topk

    books, codes = fitted
    rows = emb.orderBy("vec_id").collect()
    X = np.array([r.emb for r in rows])
    ids = np.array([r.vec_id for r in rows])
    K = 16
    centroids = X[:K].astype(np.float64)  # deterministic coarse quantizer

    # assign cells driver-side for the test corpus (engine path: an L2
    # fold over the broadcast centroid array, queries/similarity.ann_ivfpq_topk)
    cells = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(-1).argmin(-1)
    cell_df = spark.createDataFrame(
        [(int(i), int(c)) for i, c in zip(ids, cells)], "vec_id long, cell_id int"
    )
    codes_cell = codes.join(cell_df, "vec_id")

    queries = [(int(ids[i]), [float(v) for v in X[i]]) for i in range(0, 60, 6)]
    got = ivfpq_topk(codes_cell, books, centroids, queries, topk=10, nprobe=4)
    res = got.collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = []
    for qid, vec in queries:
        d = ((X - np.asarray(vec)) ** 2).sum(1)
        exact = set(ids[np.argsort(d)[:10]].tolist())
        recalls.append(len(exact & by_q[qid]) / 10)
    # nprobe=4 of 16 cells scans ~25% of the corpus; recall must stay
    # well above the scan fraction alone and self must be found
    assert np.mean(recalls) >= 0.4, recalls
    top1 = {r.query_id: r.vec_id for r in res if r.rank == 1}
    assert sum(1 for q, v in top1.items() if q == v) >= 8
