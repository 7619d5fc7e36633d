"""Run every registered query against its DuckDB oracle at sf0.001 —
the local image of the driver's CORRECTNESS gate (which runs at sf0.01;
use SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 for the full-size run).
"""

from __future__ import annotations

import pytest

from odc_stac_spark.queries import load_all

from .oracle_compare import compare, duckdb_conn

REGISTRY = load_all()
ORACLE_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is None)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, sf_dir, con, name):
    q = REGISTRY[name]
    got = q.spark_fn(spark, sf_dir)
    want = con.sql(q.oracle).df()
    compare(got, want, name=name)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_query_runs(spark, sf_dir, name):
    q = REGISTRY[name]
    df = q.spark_fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_q22_nonvacuous_at_sf01(spark):
    """q22's oracle returns 0 rows at sf0.001/sf0.01 (the idle-customer
    predicate is vacuous at tiny scale), which would make its hash gate
    trivially green — pin the NON-vacuous sf0.1 pass explicitly
    (VERDICT r7 'What's wrong' #3)."""
    sf_dir = "/root/testdata/sf0.1"
    q = REGISTRY["q22_idle_customer_balance"]
    c = duckdb_conn(sf_dir)
    try:
        want = c.sql(q.oracle).df()
        assert len(want) >= 1, "expected a non-vacuous result at sf0.1"
        got = q.spark_fn(spark, sf_dir)
        compare(got, want, name="q22@sf0.1")
    finally:
        c.close()


#: sf0.1 documents whose quality score is a half-way case at 4 places
#: (doc 501: 0.4·0.74 + 0.4·0.4324 + 0.2·0.57095 = 0.58315)
_QUALITY_TIES = {
    501: "stream part customer join part a key hash batch line batch vector customer the "
    "customer customer line part column scan join group slow table part group key column "
    "small a stream part customer big a group slow window value query merge the group "
    "vector a slow part hash big column table fast value key data small filter query agg the "
    "vector filter the sort slow scan hash stream filter query group merge query key",
    967: "query batch batch batch part the window slow column customer spark slow hash slow "
    "vector stream stream",
    1220: "line sort group a part a stream slow fast a query stream",
}


def test_text_quality_score_half_way_ties(spark, tmp_path):
    """Half-way scores round up in both engines, the same way: the score
    is exact DECIMAL arithmetic, so neither engine's DOUBLE rounding of a
    sum like 0.58315 decides the fourth place."""
    import duckdb
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": list(_QUALITY_TIES),
            "text": list(_QUALITY_TIES.values()),
            "lang": "en",
            "source": "web",
            "n_chars": [len(t) for t in _QUALITY_TIES.values()],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    q = REGISTRY["text_quality_score"]
    got = q.spark_fn(spark, str(tmp_path))
    c = duckdb.connect()
    try:
        c.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')")
        want = c.sql(q.oracle).df()
    finally:
        c.close()
    compare(got, want, name="text_quality_score ties")
    assert {r.doc_id: r.quality for r in got.collect()} == {501: 0.5832, 967: 0.2886, 1220: 0.5418}


def test_compare_detects_value_perturbation(spark, sf_dir, con):
    """Guard the gate itself: a single perturbed value must fail the
    compare (if this ever passes silently, every green above is
    meaningless)."""
    import pyspark.sql.functions as F

    q = REGISTRY["q1_pricing_summary"]
    good = q.spark_fn(spark, sf_dir)
    bad = good.withColumn(
        "sum_qty", F.col("sum_qty") + F.when(F.col("l_returnflag") == "A", 1).otherwise(0)
    )
    want = con.sql(q.oracle).df()
    compare(good, want, name="sanity-good")
    with pytest.raises(AssertionError):
        compare(bad, want, name="must-fail")


def test_compare_detects_dropped_row(spark, sf_dir, con):
    """Row-count mismatches must fail too (truncation is not success)."""
    q = REGISTRY["q1_pricing_summary"]
    good = q.spark_fn(spark, sf_dir)
    want = con.sql(q.oracle).df()
    with pytest.raises(AssertionError):
        compare(good.limit(2), want, name="must-fail-rows")
