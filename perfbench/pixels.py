"""Pixel workloads: Sentinel-2-like deflate COGs loaded through the package.

``s2_mosaic`` is odc-stac's ``s2-ms-mosaic`` shape on the driver-list path:
overlapping scenes of one day, so every seam tile fuses several sources.
``catalog_deep`` is the ``s2-ms-deep`` shape on the DataFrame catalog path:
one footprint observed on many dates, one source per tile.

Inputs are generated from the seed: smooth reflectance-like fields with
noise, nodata (0) cloud holes and a cut swath corner. The same arrays give
a numpy first-valid mosaic that every run's output is checked against.
"""

from __future__ import annotations

import json
import os
import time
import zlib
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta

import numpy as np

from spans import NullTracer, span_stats, task_stats

EPSG = 32735
CRS = f"EPSG:{EPSG}"
RES = 10.0
NODATA = 0
BANDS = {"B04": "red", "B08": "nir"}
COG_MEDIA = "image/tiff; application=geotiff; profile=cloud-optimized"
STAC_EXTENSIONS = [
    "https://stac-extensions.github.io/projection/v1.1.0/schema.json",
    "https://stac-extensions.github.io/raster/v1.1.0/schema.json",
    "https://stac-extensions.github.io/eo/v1.1.0/schema.json",
]
X0, Y0 = 600000.0, 7300000.0  # UTM 35S, mid-longitude ~28E

# Sizes. s2_mosaic: a 3x3 block of 1024^2 scenes overlapping by 128 px
# gives a 2816^2 output grid; 512^2 tiles put 1-4 sources on every tile
# (72 tile tasks). catalog_deep: one 1024^2 footprint on 6 dates ten days
# apart in one 1024^2 tile, one source per tile (12 tile tasks).
SCENE_PX = 1024
MOSAIC_GRID = 3
MOSAIC_OVERLAP = 128
DEEP_DATES = 6


def scene_array(rng: np.random.Generator, n: int, swath_cut: bool) -> np.ndarray:
    """One band of one scene: low-frequency field + sensor noise, uint16,
    with 0 (nodata) cloud holes and optionally a cut swath corner."""
    coarse = rng.uniform(400.0, 4000.0, size=(n // 128 + 2, n // 128 + 2))
    yy = np.linspace(0, coarse.shape[0] - 1.001, n)
    xx = np.linspace(0, coarse.shape[1] - 1.001, n)
    iy, fy = np.divmod(yy, 1.0)
    ix, fx = np.divmod(xx, 1.0)
    iy, ix = iy.astype(int), ix.astype(int)
    top = coarse[iy][:, ix] * (1 - fx) + coarse[iy][:, ix + 1] * fx
    bot = coarse[iy + 1][:, ix] * (1 - fx) + coarse[iy + 1][:, ix + 1] * fx
    field = top * (1 - fy)[:, None] + bot * fy[:, None]
    arr = (field + rng.normal(0.0, 25.0, size=(n, n))).clip(1, 10000).astype(np.uint16)
    for _ in range(3):
        cy, cx = rng.integers(0, n, size=2)
        r = int(rng.integers(n // 16, n // 6))
        arr[max(0, cy - r) : cy + r, max(0, cx - r) : cx + r] = NODATA
    if swath_cut:
        cut = int(rng.integers(n // 4, n // 2))
        rows = np.arange(n)[:, None]
        cols = np.arange(n)[None, :]
        arr[cols < cut - rows] = NODATA
    return arr


def stac_doc(item_id: str, when: datetime, x0: float, y0: float, n: int, hrefs: dict) -> dict:
    return {
        "type": "Feature",
        "stac_version": "1.0.0",
        "stac_extensions": STAC_EXTENSIONS,
        "id": item_id,
        "collection": "sentinel-2-l2a-synthetic",
        "bbox": [x0, y0 - n * RES, x0 + n * RES, y0],
        "geometry": None,
        "properties": {
            "datetime": when.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "proj:epsg": EPSG,
            "proj:shape": [n, n],
            "proj:transform": [RES, 0.0, x0, 0.0, -RES, y0, 0.0, 0.0, 1.0],
        },
        "assets": {
            band: {
                "href": hrefs[band],
                "type": COG_MEDIA,
                "roles": ["data"],
                "eo:bands": [{"name": band, "common_name": common}],
                "raster:bands": [{"data_type": "uint16", "nodata": NODATA, "unit": "1"}],
            }
            for band, common in BANDS.items()
        },
        "links": [],
    }


class PixelWorkload:
    """Shared set-up, output check and kernel replay of the two pixel
    workloads; subclasses lay out the scenes and define one op."""

    # per-layer metric prefixes of layers these workloads do not run
    skipped_layers = ("queries.", "q.", "tables.")
    # plain untimed ops after the checked warm-up op, inside setup_s
    warm_ops = 0

    def __init__(self, spark, workdir: str, seed: int, nproc: int):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.nproc = nproc
        self.fixture_stats: dict = {}

    # --- set-up -----------------------------------------------------------

    def layout(self, rng):
        """[(item_id, datetime, row_offset, col_offset, swath_cut)]"""
        raise NotImplementedError

    def setup(self) -> None:
        from odc_stac_spark.model import GeoBox
        from odc_stac_spark.sources.geotiff import write_cog_file

        t0 = time.perf_counter()
        rng = np.random.default_rng(self.seed)
        cog_dir = os.path.join(self.workdir, "cogs")
        os.makedirs(cog_dir, exist_ok=True)
        n = SCENE_PX
        self.scenes = []
        jobs = []
        for item_id, when, oy, ox, cut in self.layout(rng):
            arrays, hrefs = {}, {}
            x0, y0 = X0 + ox * RES, Y0 - oy * RES
            for band in BANDS:
                arrays[band] = scene_array(rng, n, cut)
                hrefs[band] = os.path.join(cog_dir, f"{item_id}_{band}.tif")
            gbox = GeoBox((n, n), (RES, 0.0, x0, 0.0, -RES, y0), CRS)
            jobs += [(hrefs[band], arrays[band], gbox) for band in BANDS]
            self.scenes.append(
                {"id": item_id, "datetime": when, "oy": oy, "ox": ox, "gbox": gbox,
                 "arrays": arrays, "hrefs": hrefs, "doc": stac_doc(item_id, when, x0, y0, n, hrefs)}
            )
        # zlib releases the GIL while it compresses, so threads overlap the
        # per-tile deflate of different files
        with ThreadPoolExecutor(max_workers=self.nproc) as pool:
            for fut in [
                pool.submit(write_cog_file, path, arr, gbox, nodata=NODATA, compression="deflate")
                for path, arr, gbox in jobs
            ]:
                fut.result()
        self.fixture_stats["fixtures.write_s"] = time.perf_counter() - t0
        self.fixture_stats["fixtures.cog_mb"] = sum(os.path.getsize(p) for p, _, _ in jobs) / 1e6
        self.docs = [s["doc"] for s in self.scenes]
        self.prepare()

    def prepare(self) -> None:
        """Workload-specific set-up after the COGs exist."""

    def groups(self):
        """Scenes per output time index, each list in precedence order."""
        raise NotImplementedError

    def reference_tiles(self) -> dict:
        """Numpy first-valid mosaic on the whole output grid, cut into the
        load's tiles: {(band, t, iy, ix): (y0, x0, h, w, crc32, valid)}."""
        ny, nx = self.grid_shape
        ty, tx = self.chunks
        n = SCENE_PX
        out = {}
        for t, members in enumerate(self.groups()):
            for band in BANDS:
                mosaic = np.zeros((ny, nx), dtype=np.uint16)
                covered = np.zeros((ny, nx), dtype=bool)
                for s in members:
                    win = mosaic[s["oy"] : s["oy"] + n, s["ox"] : s["ox"] + n]
                    np.copyto(win, s["arrays"][band], where=win == NODATA)
                    covered[s["oy"] : s["oy"] + n, s["ox"] : s["ox"] + n] = True
                for iy in range((ny + ty - 1) // ty):
                    for ix in range((nx + tx - 1) // tx):
                        y0, x0 = iy * ty, ix * tx
                        if not covered[y0 : y0 + ty, x0 : x0 + tx].any():
                            continue
                        tile = mosaic[y0 : y0 + ty, x0 : x0 + tx]
                        out[(band, t, iy, ix)] = (
                            y0, x0, tile.shape[0], tile.shape[1],
                            zlib.crc32(tile.tobytes()), int(np.count_nonzero(tile)),
                        )
        return out

    @property
    def expected_gbox(self):
        ny, nx = self.grid_shape
        return (ny, nx), (RES, 0.0, X0, 0.0, -RES, Y0)

    # --- op and check -----------------------------------------------------

    def build(self, tr):
        """Run the op's planning calls; return (tiles_df, plan)."""
        raise NotImplementedError

    def op(self, tr) -> None:
        tiles_df, _ = self.build(tr)
        with tr.span("tiles.exec", group=True):
            tiles_df.write.mode("overwrite").format("noop").save()

    def warmup(self) -> None:
        """One op through the same calls, with a sink that keeps each
        tile's CRC32 and valid count for ``verify``."""
        import pyspark.sql.functions as F

        tiles_df, self.checked_plan = self.build(NullTracer())
        self.rows = tiles_df.select(
            "band", "t", "iy", "ix", "y0", "x0", "height", "width", "dtype",
            "valid_count", F.crc32("data").alias("crc"),
        ).collect()
        self.tile_tasks = len(self.rows)

    def verify(self) -> int:
        """The warm-up op's tiles and output grid against a numpy
        first-valid mosaic of the generated arrays; returns mismatches."""
        self.expected = self.reference_tiles()
        self.out_mpx = sum(v[2] * v[3] for v in self.expected.values()) / 1e6
        plan = self.checked_plan
        shape, transform = self.expected_gbox
        bad = 0
        if tuple(plan.gbox.shape) != shape or tuple(plan.gbox.transform) != transform:
            bad += 1
        got = {}
        for r in self.rows:
            if r.dtype != "uint16":
                bad += 1
            got[(r.band, r.t, r.iy, r.ix)] = (
                r.y0, r.x0, r.height, r.width, r.crc, r.valid_count
            )
        bad += sum(1 for k in set(got) | set(self.expected) if got.get(k) != self.expected.get(k))
        return bad

    def traced_extras(self, tracer) -> dict:
        return self.replay(self.checked_plan)

    def layer_metrics(self, tracer, ids, events, nproc, plain_p50) -> dict:
        parse = span_stats(tracer, "stac_items.parse", ids)
        cat = span_stats(tracer, "catalog.plan", ids)
        tiles = span_stats(tracer, "tiles.exec", ids)
        tt = task_stats(events, tiles["groups"], tiles["n"])
        return {
            "stac_items.parse_s": parse["s"],
            "stac_items.parse_jobs": parse["jobs"],
            "load.plan_s": span_stats(tracer, "load.plan", ids)["s"],
            "load.tile_tasks": self.tile_tasks,
            "catalog.plan_s": cat["s"],
            "catalog.plan_jobs": cat["jobs"],
            "tiles.exec_s": tiles["s"],
            "tiles.jobs": tiles["jobs"],
            "tiles.stages": tiles["stages"],
            "tiles.tasks": tiles["tasks"],
            "tiles.task_retries": tt["task_retries"],
            "tiles.task_run_s": tt["task_run_s"],
            "tiles.task_cpu_s": tt["task_cpu_s"],
            "tiles.gc_s": tt["gc_s"],
            "tiles.shuffle_write_mb": tt["shuffle_write_mb"],
            "tiles.python_io_mb": tt["python_io_mb"],
            "tiles.out_mpx": self.out_mpx,
            "tiles.mpx_per_s": self.out_mpx / plain_p50,
            "tiles.busy_frac": tt["task_run_s"] / (tiles["s"] * nproc),
            "tiles.cpu_frac": tt["task_cpu_s"] / tt["task_run_s"] if tt["task_run_s"] else 0.0,
        }

    # --- serial kernel replay (traced run) ----------------------------------

    def replay(self, plan) -> dict:
        """Replay every tile's COG reads and first-valid fill serially in
        this process, with the package's own reader and mosaic kernel, to
        separate kernel time from Spark overhead."""
        from odc_stac_spark.model import (
            RasterBandMetadata,
            RasterSource,
            resolve_dst_dtype,
            resolve_dst_nodata,
            resolve_src_nodata,
        )
        from odc_stac_spark.operators.mosaic import fill_tile
        from odc_stac_spark.sources import geotiff
        from odc_stac_spark.sources.synth import reader_for

        decoded = [0, 0]  # COG tiles, pixels
        real_read_tile = geotiff.read_cog_tile

        def counting_read_tile(*args, **kwargs):
            arr = real_read_tile(*args, **kwargs)
            decoded[0] += 1
            decoded[1] += arr.size
            return arr

        n = SCENE_PX
        ty, tx = self.chunks
        groups = self.groups()
        read_s = fill_s = 0.0
        sources = 0
        geotiff.read_cog_tile = counting_read_tile
        try:
            for band, t, iy, ix in sorted(self.expected):
                cfg = plan.cfg[band]
                dst_dtype = resolve_dst_dtype("uint16", cfg)
                dst_nodata = resolve_dst_nodata(dst_dtype, cfg, resolve_src_nodata(NODATA, cfg))
                tgb = plan.tiles.tile_geobox(iy, ix)
                reads = []
                for s in groups[t]:
                    if not (s["oy"] < (iy + 1) * ty and iy * ty < s["oy"] + n
                            and s["ox"] < (ix + 1) * tx and ix * tx < s["ox"] + n):
                        continue
                    src = RasterSource(
                        uri=s["hrefs"][band], geobox=s["gbox"],
                        meta=RasterBandMetadata("uint16", NODATA),
                    )
                    t0 = time.perf_counter()
                    reads.append(reader_for(src.uri).read(src, cfg, tgb))
                    read_s += time.perf_counter() - t0
                    sources += 1
                t0 = time.perf_counter()
                fill_tile(tgb.shape, dst_dtype, dst_nodata, reads)
                fill_s += time.perf_counter() - t0
        finally:
            geotiff.read_cog_tile = real_read_tile
        return {
            "geotiff.read_s": read_s,
            "geotiff.tiles_decoded": decoded[0],
            "geotiff.decode_mpx_per_s": decoded[1] / 1e6 / read_s,
            "mosaic.fill_s": fill_s,
            "mosaic.sources_per_tile": sources / len(self.expected),
        }


class S2Mosaic(PixelWorkload):
    """STAC item JSON -> stac_dicts_to_items -> parse_items -> to_load_items
    -> load(groupby="solar_day") -> noop sink."""

    chunks = (512, 512)
    grid_shape = ((SCENE_PX - MOSAIC_OVERLAP) * (MOSAIC_GRID - 1) + SCENE_PX,) * 2
    # Warm ops still speed up over the first ~6 ops of a session (1.6-2.3 s
    # down to 1.2-1.4 s on 4 cores) while the JIT compiles the hot paths;
    # four more untimed ops move the timed ones past that slope.
    warm_ops = 4

    def layout(self, rng):
        step = SCENE_PX - MOSAIC_OVERLAP
        cells = [(r, c) for r in range(MOSAIC_GRID) for c in range(MOSAIC_GRID)]
        minutes = rng.permutation(len(cells))
        day = datetime(2020, 6, 6, 8, 30)
        return [
            (f"S2_{r}{c}", day + timedelta(minutes=int(m)), r * step, c * step, (r + c) % 3 == 0)
            for (r, c), m in zip(cells, minutes)
        ]

    def groups(self):
        # one solar day; precedence (datetime, id)
        return [sorted(self.scenes, key=lambda s: (s["datetime"], s["id"]))]

    def build(self, tr):
        from odc_stac_spark.plans.load import load
        from odc_stac_spark.sources.stac_items import (
            parse_items,
            stac_dicts_to_items,
            to_load_items,
        )

        with tr.span("stac_items.parse", group=True):
            items = to_load_items(parse_items(self.spark, stac_dicts_to_items(self.spark, self.docs)))
        with tr.span("load.plan", group=True):
            tiles_df, plan = load(self.spark, items, groupby="solar_day", chunks=self.chunks)
        return tiles_df, plan


class CatalogDeep(PixelWorkload):
    """Static STAC catalog (one JSON file per item) -> read_stac_json ->
    parse_items -> load_from_catalog(groupby="time") -> noop sink."""

    chunks = (1024, 1024)
    grid_shape = (SCENE_PX, SCENE_PX)

    def layout(self, rng):
        first = datetime(2020, 6, 1, 8, 30)
        return [
            (f"S2_T{k:02d}", first + timedelta(days=10 * k, seconds=int(rng.integers(0, 60))), 0, 0, k % 2 == 1)
            for k in range(DEEP_DATES)
        ]

    def prepare(self) -> None:
        self.catalog = os.path.join(self.workdir, "catalog")
        os.makedirs(self.catalog)
        for doc in self.docs:
            with open(os.path.join(self.catalog, f"{doc['id']}.json"), "w") as fh:
                json.dump(doc, fh)

    def groups(self):
        return [[s] for s in sorted(self.scenes, key=lambda s: s["datetime"])]

    def build(self, tr):
        from odc_stac_spark.plans.catalog import load_from_catalog
        from odc_stac_spark.sources.stac_items import parse_items, read_stac_json

        with tr.span("stac_items.parse", group=True):
            parsed = parse_items(self.spark, read_stac_json(self.spark, self.catalog))
        with tr.span("catalog.plan", group=True):
            tiles_df, plan = load_from_catalog(self.spark, parsed, groupby="time", chunks=self.chunks)
        return tiles_df, plan
