"""The similarity family's one per-key top-k ranker (queries/similarity._top_k)."""

from __future__ import annotations

from odc_stac_spark.queries.similarity import _top_k


def test_top_k_ties_exact_k_and_short_keys(spark):
    rows = [
        # key 1: a three-way tie at the top, so the two lower ids win it
        (1, 30, 0.9),
        (1, 10, 0.9),
        (1, 20, 0.9),
        (1, 5, 0.1),
        # key 2: fewer candidates than k
        (2, 7, 0.5),
        # key 3: distinct scores, ranked by score and not by id
        (3, 1, 0.2),
        (3, 2, 0.8),
        (3, 3, 0.5),
        (3, 4, 0.7),
    ]
    df = spark.createDataFrame(rows, "key int, id int, score double")
    got = _top_k(df, "key", "score", "id", 2).collect()
    assert sorted((r.key, r.rn, r.id, r.score) for r in got) == [
        (1, 1, 10, 0.9),
        (1, 2, 20, 0.9),
        (2, 1, 7, 0.5),
        (3, 1, 2, 0.8),
        (3, 2, 4, 0.7),
    ]
    # every input column is kept, with rn appended
    assert _top_k(df, "key", "score", "id", 2).columns == ["key", "id", "score", "rn"]
