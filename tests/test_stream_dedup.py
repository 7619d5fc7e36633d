"""Incremental MinHash-LSH dedup — streaming/dedup.py.

Stream == batch: the streamed near-dup matches over N micro-batches must
equal the one-shot batch computation over the same corpus split.
"""

import os
import shutil

import pyspark.sql.functions as F
import pytest

from odc_stac_spark.queries.temporal import _await_stream
from odc_stac_spark.sources.tables import load_table
from odc_stac_spark.streaming.dedup import (
    build_minhash_index,
    match_against_index,
    stream_dedup_minhash,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def corpus(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    base = docs.where(F.col("doc_id") < 30)
    new = docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 50))
    return base, new


def test_match_against_index_finds_known_dup(spark, corpus, tmp_path):
    base, _ = corpus
    idx = str(tmp_path / "idx")
    build_minhash_index(spark, base, idx)
    # a verbatim copy of doc 3's text must match it with jaccard 1.0
    copy = base.where(F.col("doc_id") == 3).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    out = match_against_index(spark, copy, idx).collect()
    assert any(r.dup_of == 3 and r.jaccard == 1.0 for r in out)


def test_stream_equals_batch(spark, corpus, tmp_path):
    base, new = corpus
    idx_stream = str(tmp_path / "idx_stream")
    idx_batch = str(tmp_path / "idx_batch")
    build_minhash_index(spark, base, idx_stream)
    build_minhash_index(spark, base, idx_batch)

    # batch reference: all new docs at once against the index
    want = {
        (r.doc_id, r.dup_of, r.jaccard)
        for r in match_against_index(spark, new, idx_batch).collect()
    }

    # stream: the same docs arrive as two parquet files, one per trigger
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    new.where(F.col("doc_id") < 40).coalesce(1).write.parquet(in_dir + "/f0")
    new.where(F.col("doc_id") >= 40).coalesce(1).write.parquet(in_dir + "/f1")
    for i in (0, 1):
        for f in os.listdir(f"{in_dir}/f{i}"):
            if f.endswith(".parquet"):
                shutil.move(f"{in_dir}/f{i}/{f}", f"{in_dir}/part{i}.parquet")
        shutil.rmtree(f"{in_dir}/f{i}")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out_dir = str(tmp_path / "out")
    q = stream_dedup_minhash(
        spark, stream, idx_stream, out_dir, str(tmp_path / "ckpt")
    )
    _await_stream(q, 120)

    got = {
        (r.doc_id, r.dup_of, r.jaccard)
        for r in spark.read.parquet(out_dir).drop("batch").collect()
    }
    assert got == want
    # the index absorbed both micro-batches
    from odc_stac_spark.streaming.dedup import shingle_arrays

    n_idx = (
        spark.read.parquet(os.path.join(idx_stream, "shingles"))
        .select("doc_id")
        .distinct()
        .count()
    )
    assert n_idx == shingle_arrays(base).count() + shingle_arrays(new).count()


def test_replayed_batch_is_idempotent(spark, corpus, tmp_path):
    """Re-running a batch id must not double the index or the matches."""
    base, new = corpus
    idx = str(tmp_path / "idx")
    build_minhash_index(spark, base, idx)
    first = new.where(F.col("doc_id") < 40)

    from odc_stac_spark.streaming.dedup import minhash_bands, shingle_arrays
    from odc_stac_spark.queries.dedup import _minhash_sig

    out_dir = str(tmp_path / "out")

    def run_once():
        m = match_against_index(spark, first, idx)
        m.write.mode("overwrite").parquet(os.path.join(out_dir, "batch=0"))
        sharr = shingle_arrays(first)
        minhash_bands(_minhash_sig(sharr)).write.mode("overwrite").partitionBy(
            "band_idx"
        ).parquet(os.path.join(idx, "buckets", "batch=0"))
        sharr.write.mode("overwrite").parquet(os.path.join(idx, "shingles", "batch=0"))

    run_once()
    n1 = spark.read.parquet(os.path.join(idx, "shingles")).count()
    m1 = spark.read.parquet(out_dir).count()
    run_once()  # replay
    assert spark.read.parquet(os.path.join(idx, "shingles")).count() == n1
    assert spark.read.parquet(out_dir).count() == m1
