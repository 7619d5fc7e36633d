"""odc_stac_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of ``opendatacube/odc-stac``.

The reference (at /root/reference) is a Dask/xarray raster-loading engine;
this package re-expresses its data model and every operator Spark-first:

- **metadata plane**: STAC items as nested DataFrames (see
  :mod:`odc_stac_spark.sources.stac_items`), planned with Catalyst.
- **pixel plane**: a tiles DataFrame (band, t, iy, ix, data) produced by
  tile binning (grid-index ranges) + one ``mapInPandas`` mosaic executor
  (see :mod:`odc_stac_spark.plans.load` / :mod:`odc_stac_spark.operators.mosaic`).
- **relational + LLM-pipeline surface**: dedup, similarity search, text
  analysis, streaming — all registered in :mod:`odc_stac_spark.queries`
  with DuckDB-oracle SQL for correctness gating.

Design notes for 100 TB scale live in docstrings next to each operator; the
guiding rules: declarative DataFrame plans (let Catalyst push down / prune),
broadcast small dimensions, no driver-side collect in the data path, and
Pandas UDFs only where built-ins cannot express the semantics.
"""

__version__ = "0.1.0"

from .model import (
    GeoBox,
    GeoboxTiles,
    MDParseConfig,
    RasterBandMetadata,
    RasterCollectionMetadata,
    RasterLoadParams,
    RasterSource,
)
from typing import Any, Dict

from .plans.catalog import load_from_catalog, plan_load_df
from .plans.load import (
    Item,
    LoadPlan,
    load,
    load_from_sources,
    output_geobox,
    patch_urls,
    plan_load,
)
from .session import get_spark
from .sources.aws import configure_rio, configure_s3_access
from .sources.eo3 import infer_dc_product, mk_sample_item, stac2ds
from .sources.stac_items import (
    extract_collection_metadata,
    items_df,
    parse_item,
    parse_items,
    patch_urls_df,
)
from .sources.stac_search import StacSearchClient, search_items

# reference public-API parity (odc/stac/__init__.py:20-36): `load` is also
# exported as `stac_load`; `output_geobox` (plans/load.py) resolves the
# output grid alone with the full argument surface (like=/geopolygon=/
# lon,lat=/x,y=/anchor/align)
stac_load = load

#: Reference-name parity (odc/stac/__init__.py:20-36). The reference's
#: ``ParsedItem`` (model.py:193-219) is the per-item loading essentials —
#: id, datetime, raster bands, footprint. Here the AT-SCALE form of that
#: data is a ROW of the parsed-items DataFrame (``parse_items``); the
#: driver-side object form — what ``parse_item`` returns and ``load``
#: consumes for small AOIs — is :class:`plans.load.Item`, exported under
#: the reference's name.
ParsedItem = Item

#: Reference-name parity: the reference's ``ConversionConfig``
#: (_mdtools.py:61) is a plain ``Dict[str, Any]`` type alias for the
#: per-collection STAC→EO3 conversion options. Ours is the same dict
#: shape — ``parse_item(s)``/``extract_collection_metadata`` feed it
#: through :class:`model.MDParseConfig.from_dict`.
ConversionConfig = Dict[str, Any]


__all__ = [
    "ConversionConfig",
    "GeoBox",
    "GeoboxTiles",
    "Item",
    "LoadPlan",
    "ParsedItem",
    "MDParseConfig",
    "RasterBandMetadata",
    "RasterCollectionMetadata",
    "RasterLoadParams",
    "RasterSource",
    "configure_rio",
    "configure_s3_access",
    "StacSearchClient",
    "extract_collection_metadata",
    "get_spark",
    "infer_dc_product",
    "items_df",
    "load",
    "load_from_catalog",
    "load_from_sources",
    "mk_sample_item",
    "output_geobox",
    "parse_item",
    "parse_items",
    "patch_urls",
    "patch_urls_df",
    "plan_load",
    "plan_load_df",
    "search_items",
    "stac2ds",
    "stac_load",
    "__version__",
]
