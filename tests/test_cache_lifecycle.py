"""Registry scoped-cache lifecycle (queries/__init__.py).

Contract: caches registered by a query live until the next registry
entry, and every entry releases them — a re-entry of the SAME query
too, so a best-of-N loop times the query's own persisted stages on
every run instead of re-reading run 1's blocks. Work directories from
``scoped_tempdir`` share the contract.
"""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
import pytest

from odc_stac_spark import queries as Q


@pytest.fixture()
def _clean_registry():
    """Register test queries under throwaway names; always remove them so
    REGISTRY stays exactly the load_all() image for other tests."""
    names = []

    def reg(name, fn):
        Q.register(name)(fn)
        names.append(name)
        return Q.REGISTRY[name]

    try:
        yield reg
    finally:
        for n in names:
            Q.REGISTRY.pop(n, None)
        Q.release_caches()


def test_every_entry_releases_caches(spark, _clean_registry):
    cached = []

    def qa(spark, sf_dir):
        df = Q.scoped_persist(spark.range(10).withColumn("x", F.col("id") * 2))
        cached.append(df)
        df.count()  # materialize the cache
        return df

    def qb(spark, sf_dir):
        return spark.range(3)

    a = _clean_registry("_test_lifecycle_a", qa)
    b = _clean_registry("_test_lifecycle_b", qb)

    a.spark_fn(spark, "")
    first = cached[0]
    assert first.is_cached
    # a re-entry of the SAME query releases run 1's cache and persists anew
    a.spark_fn(spark, "")
    assert not first.is_cached, "same-name re-entry must release the previous run's caches"
    assert cached[1].is_cached
    # a DIFFERENT query entering releases everything A registered
    b.spark_fn(spark, "")
    assert all(not df.is_cached for df in cached)


def test_release_caches_drains_and_resets(spark, _clean_registry):
    def qa(spark, sf_dir):
        return Q.scoped_persist(spark.range(5))

    a = _clean_registry("_test_lifecycle_c", qa)
    df = a.spark_fn(spark, "")
    df.count()
    assert df.is_cached
    Q.release_caches()
    assert not df.is_cached
    # after an explicit drain the next entry (even same-name) is a fresh
    # lifecycle: re-running re-persists without error
    df2 = a.spark_fn(spark, "")
    df2.count()
    assert df2.is_cached
    Q.release_caches()


def test_stream_queries_leave_no_directory(spark, sf_dir, tmp_path, monkeypatch):
    """The streaming queries' work directories (the rollup's sink and
    checkpoint, the bot-detection parquet sink) live until the next
    registry entry: after release_caches the temp dir is empty."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    registry = Q.load_all()
    for name in ("t_stream_tumbling", "t_stream_continuous_agg", "t_stream_bot_detection"):
        assert registry[name].spark_fn(spark, sf_dir).count() > 0
    assert os.listdir(tmp_path), "the bot-detection sink is live until the next entry"
    Q.release_caches()
    assert os.listdir(tmp_path) == []
