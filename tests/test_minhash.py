"""The MinHash signature and LSH bands of ``queries/dedup.py`` (SQL text in
Spark) against their independent DuckDB forms, value for value."""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from odc_stac_spark.queries.dedup import (
    _SHINGLES_SQL,
    _band_cols_sql,
    _minhash_sig,
    _minhash_sig_sql,
    minhash_bands,
    shingle_arrays,
)
from odc_stac_spark.session import literal_df

WORDS = "spark row key hash band shingle lake tile scan Merge JOIN sort a the of".split()
DOC_SCHEMA = StructType([StructField("doc_id", LongType()), StructField("text", StringType())])


def _corpus(seed: int) -> list:
    rng = random.Random(seed)
    docs = [
        (i, " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 30))))
        for i in range(80)
    ]
    # near-duplicates of earlier docs, so some band buckets collide
    docs += [(100 + i, docs[i][1] + " tail") for i in range(0, 80, 7)]
    return docs + [
        (200, "two tokens"),  # fewer than 3 tokens: no shingles, no signature
        (201, "Key  hash BAND key hash band key hash band"),  # duplicate shingles
        (202, "  lake   tile scan "),  # exactly one shingle
    ]


def _duckdb(docs: list, select: str) -> pd.DataFrame:
    con = duckdb.connect()
    documents = pd.DataFrame(docs, columns=["doc_id", "text"])  # noqa: F841 (scanned by name)
    out = con.sql(
        f"WITH sh AS ({_SHINGLES_SQL}), sig AS ({_minhash_sig_sql()}), "
        f"bands AS ({_band_cols_sql()}) {select}"
    ).df()
    con.close()
    return out


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_signature_and_bands_match_duckdb(spark, seed):
    docs = _corpus(seed)
    sig = _minhash_sig(shingle_arrays(literal_df(spark, docs, DOC_SCHEMA)))
    got = {r[0]: tuple(r[1:]) for r in sig.collect()}
    want = {
        int(r[0]): tuple(int(v) for v in r[1:])
        for r in _duckdb(docs, "SELECT * FROM sig").itertuples(index=False)
    }
    assert 200 not in got and 201 in got and 202 in got
    assert got == want

    got_bands = sorted(tuple(r) for r in minhash_bands(sig).collect())
    bands = _duckdb(docs, "SELECT doc_id, band_idx, bh FROM bands")
    want_bands = sorted((int(d), int(b), h) for d, b, h in bands.itertuples(index=False))
    assert got_bands == want_bands
    # the near-duplicates make the band join non-trivial
    assert len({(b, h) for _, b, h in got_bands}) < len(got_bands)
