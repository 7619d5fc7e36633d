"""Incremental (streaming) near-duplicate detection against a persisted
MinHash-LSH index.

The batch dedup family (queries/dedup.py) answers "which existing docs
are near-dups of each other". A production training-data pipeline also
needs the *incremental* question — "is this NEW document a near-dup of
anything already ingested?" — answered continuously as crawl shards
arrive, without rescanning the corpus. The 100 TB shape:

- the corpus's LSH state is a small **persisted index**: one row per
  (band, bucket-hash, doc) plus the per-doc shingle arrays for the verify
  stage (:func:`build_minhash_index` — same signature code as batch, so
  index and stream agree bit-for-bit).
- each micro-batch computes signatures MAP-SIDE (zero shuffles, identical
  higher-order-fold as batch), equi-joins its band rows against the index
  buckets (bucket collisions only, never all-pairs), verifies candidates
  with exact Jaccard over ``array_intersect``, and emits
  ``(doc_id, dup_of, jaccard)``.
- matched-or-not, the batch's rows are appended to the index, so
  within-stream duplicates are caught too (a batch also self-checks
  against its own band rows, restricted to ``doc_id > other``).

Implemented with ``foreachBatch`` (the engine's incremental-ingest idiom,
streaming/ingest.py): each micro-batch is a normal batch plan, so the
bucket join/verify reuse the exact batch operators, and the index append
is atomic per batch directory. Exactly-once: batch output dirs are keyed
by batch_id, so a replayed batch overwrites its own output instead of
duplicating (same retry-idempotence pattern as the tile sink).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..queries.dedup import (
    JACCARD_THRESHOLD,
    _minhash_sig,
    jaccard_sql,
    minhash_bands,
    shingle_arrays,
)
from ..session import sql_literal


def build_minhash_index(spark: SparkSession, docs: DataFrame, path: str) -> None:
    """Persist the LSH state for a document corpus: ``path/buckets``
    (doc_id, band_idx, bh) and ``path/shingles`` (doc_id, shingles).

    Buckets are written partitioned by ``band_idx`` — a candidate lookup
    for band k prunes to one partition directory, and at 100 TB each
    band's bucket table is range-readable without touching the others."""
    sharr = shingle_arrays(docs).persist()
    minhash_bands(_minhash_sig(sharr)).write.mode("overwrite").partitionBy(
        "band_idx"
    ).parquet(os.path.join(path, "buckets", "batch=init"))
    sharr.write.mode("overwrite").parquet(os.path.join(path, "shingles", "batch=init"))
    sharr.unpersist()


def match_against_index(
    spark: SparkSession, docs: DataFrame, index_path: str, include_self: bool = True
) -> DataFrame:
    """Batch core reused per micro-batch: near-dups of ``docs`` against the
    persisted index (plus, when ``include_self``, earlier docs of the same
    batch) → (doc_id, dup_of, jaccard)."""
    sharr = shingle_arrays(docs).persist()
    new_bands = minhash_bands(_minhash_sig(sharr))
    # batch=<id> partition dirs are discovered as a partition column and
    # dropped by the select — the reader always sees the whole index
    idx_bands = spark.read.parquet(os.path.join(index_path, "buckets")).select(
        F.col("doc_id").alias("dup_of"), "band_idx", "bh"
    )
    idx_shingles = spark.read.parquet(os.path.join(index_path, "shingles")).select(
        F.col("doc_id").alias("dup_of"), F.col("shingles").alias("old_shingles")
    )
    if include_self:
        idx_bands = idx_bands.unionByName(
            new_bands.select(F.col("doc_id").alias("dup_of"), "band_idx", "bh")
        )
        idx_shingles = idx_shingles.unionByName(
            sharr.select(
                F.col("doc_id").alias("dup_of"), F.col("shingles").alias("old_shingles")
            )
        )
    cand = (
        new_bands.join(idx_bands, ["band_idx", "bh"])
        .where(F.col("doc_id") > F.col("dup_of"))
        .select("doc_id", "dup_of")
        .distinct()
    )
    jac = jaccard_sql("shingles", "old_shingles")
    return (
        cand.join(sharr, "doc_id")
        .join(idx_shingles, "dup_of")
        .where(f"{jac} >= {sql_literal(JACCARD_THRESHOLD)}")
        .selectExpr("doc_id", "dup_of", f"round({jac}, 4) AS jaccard")
    )


def stream_dedup_minhash(
    spark: SparkSession,
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
):
    """Dedup a document stream against (and into) the index, processing
    what is available now.

    Per micro-batch: match → write matches to ``out_path/batch=<id>``
    (idempotent overwrite on replay) → append the batch's band rows and
    shingle arrays to the index so later batches (and later docs in the
    stream) see them."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        matches = match_against_index(spark, batch_df, index_path)
        matches.write.mode("overwrite").parquet(
            os.path.join(out_path, f"batch={batch_id}")
        )
        # index increments live under batch=<id> dirs: a replayed batch
        # OVERWRITES its own increment instead of appending twice
        sharr = shingle_arrays(batch_df)
        minhash_bands(_minhash_sig(sharr)).write.mode("overwrite").partitionBy(
            "band_idx"
        ).parquet(os.path.join(index_path, "buckets", f"batch={batch_id}"))
        sharr.write.mode("overwrite").parquet(
            os.path.join(index_path, "shingles", f"batch={batch_id}")
        )
        batch_df.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
