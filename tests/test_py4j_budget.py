"""py4j round trips per plan build (ROADMAP Direction 7).

Building a DataFrame in PySpark costs one py4j CALL command per JVM
method the Python side invokes, so a plan assembled from Column objects
pays thousands of round trips before Spark runs anything. The STAC
metadata plane, the catalog planner, the similarity family's cosine
scoring and top-k ranking and the MinHash-LSH chain are written as SQL text to keep
that cost small; these budgets pin it. Each budget is the count the
current code makes, on a fixed 6-item catalog or for a registry query at
the ``sf_dir`` fixture, and may only go down.

Only CALL commands (``c\\n...``) count: py4j's garbage-collection
commands (``m\\nd\\n...``) depend on when Python frees its proxies."""

from __future__ import annotations

import json
from contextlib import contextmanager
from datetime import datetime, timedelta

import py4j.clientserver
import pytest

from odc_stac_spark.plans.catalog import load_from_catalog, plan_load_df
from odc_stac_spark.queries import load_all
from odc_stac_spark.sources.stac_items import parse_items, read_stac_json, stac_dicts_to_items

#: py4j CALL commands per build, warm
BUDGETS = {
    "parse_items(read_stac_json)": 95,
    "parse_items(stac_dicts_to_items)": 104,
    "load_from_catalog(plan=plan)": 188,
}

#: py4j CALL commands per warm registry build (the call through the
#: registry wrapper, which also releases the previous call's caches)
QUERY_BUDGETS = {
    "ann_ivf_topk": 109,
    "embedding_neardup_pairs": 101,
    "dedup_semantic_clusters": 103,
    "emb_ivf_cell_balance": 169,
    "ann_ivf_int8_topk": 141,
    "ann_ivfpq_topk": 219,
    "ann_recall_report": 254,
    "embedding_neardup_adaptive": 109,
    "dedup_minhash_lsh": 262,
    "dedup_pipeline_e2e": 527,
    "q5_local_supplier_volume": 241,
    "knn_bruteforce_cosine": 75,
    "ann_hard_negatives": 85,
    "ann_matryoshka_rerank": 108,
    "ann_int8_quantized_topk": 84,
    "emb_knn_label_consistency": 152,
    "emb_mutual_knn_cc": 365,
    "emb_incremental_neardup": 184,
    "ann_lsh_hyperplane": 203,
    "dedup_incremental_lsh": 356,
}

PROJ = "https://stac-extensions.github.io/projection/v1.1.0/schema.json"
COG = "image/tiff; application=geotiff; profile=cloud-optimized"


def _doc(k: int) -> dict:
    """A Sentinel-2-like item with two data bands and item-level proj."""
    x0, y0 = 600000.0 + 5120.0 * (k % 2), 7300000.0
    return {
        "type": "Feature",
        "stac_version": "1.0.0",
        "stac_extensions": [PROJ],
        "id": f"S2_T{k:02d}",
        "collection": "sentinel-2-l2a",
        "bbox": [x0, y0 - 5120.0, x0 + 5120.0, y0],
        "geometry": None,
        "properties": {
            "datetime": (datetime(2020, 6, 1, 8, 30) + timedelta(days=5 * k)).isoformat() + "Z",
            "platform": "sentinel-2a" if k % 3 else "sentinel-2b",
            "proj:epsg": 32735,
            "proj:shape": [512, 512],
            "proj:transform": [10.0, 0.0, x0, 0.0, -10.0, y0, 0.0, 0.0, 1.0],
        },
        "assets": {
            band: {
                "href": f"./{band}.tif",
                "type": COG,
                "roles": ["data"],
                "eo:bands": [{"name": band, "common_name": common}],
                "raster:bands": [{"data_type": "uint16", "nodata": 0, "unit": "1"}],
            }
            for band, common in (("B04", "red"), ("B08", "nir"))
        },
        "links": [{"rel": "self", "href": f"https://example.com/s2/S2_T{k:02d}/item.json"}],
    }


DOCS = [_doc(k) for k in range(6)]


@contextmanager
def _py4j_calls():
    """Counts the py4j CALL commands sent inside the block."""
    conn = py4j.clientserver.ClientServerConnection
    real = conn.send_command
    n = [0]

    def send_command(self, command):
        n[0] += command.startswith("c\n")
        return real(self, command)

    conn.send_command = send_command
    try:
        yield n
    finally:
        conn.send_command = real


@pytest.fixture(scope="module")
def builds(spark, tmp_path_factory):
    cat = tmp_path_factory.mktemp("catalog")
    for d in DOCS:
        (cat / f"{d['id']}.json").write_text(json.dumps(d))
    parsed = parse_items(spark, read_stac_json(spark, str(cat)))
    plan = plan_load_df(spark, parsed, groupby="time", chunks=(512, 512))
    return {
        "parse_items(read_stac_json)": lambda: parse_items(spark, read_stac_json(spark, str(cat))),
        "parse_items(stac_dicts_to_items)": lambda: parse_items(
            spark, stac_dicts_to_items(spark, DOCS)
        ),
        "load_from_catalog(plan=plan)": lambda: load_from_catalog(
            spark, parsed, groupby="time", plan=plan
        ),
    }


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_plan_build_py4j_budget(builds, name):
    build = builds[name]
    build()  # warm: first-use class loading and lookups
    with _py4j_calls() as n:
        build()
    # a count of 0 would mean the counter no longer sees py4j traffic
    assert 0 < n[0] <= BUDGETS[name], f"{name}: {n[0]} py4j calls, budget {BUDGETS[name]}"


@pytest.mark.parametrize("name", sorted(QUERY_BUDGETS))
def test_registry_build_py4j_budget(spark, sf_dir, name):
    build = load_all()[name].spark_fn
    build(spark, sf_dir)  # warm
    with _py4j_calls() as n:
        build(spark, sf_dir)
    assert 0 < n[0] <= QUERY_BUDGETS[name], (
        f"{name}: {n[0]} py4j calls, budget {QUERY_BUDGETS[name]}"
    )
