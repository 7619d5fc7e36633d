"""Sinks (SURVEY §2.1 S13-S15).

- xarray assembly for API parity is ``plans.load.assemble_numpy`` (driver
  collect — small results only, exactly like the reference's mk_dataset).
- The scale sink is parquet tiles: partitioned by (band, t) so a later
  read of one band/timestep prunes directories, and sorted within
  partitions by (iy, ix) so spatially-adjacent tiles are co-located.
- COG writing (S14) goes through the in-house pure-Python tiled-GeoTIFF
  writer (sources/geotiff.py) — real COG layout without rasterio;
  compression codecs are the only part that would need it.
- Zarr v2 (``write_zarr``): the cloud-native chunked sink the odc/xarray
  ecosystem round-trips through (`xr.Dataset.to_zarr`). The tile grid maps
  1:1 onto zarr chunks, so chunk files are written FROM THE EXECUTORS
  (``foreachPartition``) with no driver collect — the distributed sink
  path; only the tiny JSON metadata is driver-side. Spec:
  https://zarr-specs.readthedocs.io/en/latest/v2/v2.0.html (public);
  zlib compressor via stdlib.
- Zarr **v3** (``write_zarr_v3``): the CURRENT spec (zarr.json node
  documents, regular chunk grid, default ``/``-separated chunk keys
  under ``c/``, bytes + gzip/zstd codec chains, dimension_names) —
  same executor-side chunk-write shape as v2.
"""

from __future__ import annotations

import json
import math
import os
import zlib

import numpy as np
from pyspark.sql import DataFrame


def write_tiles_parquet(tiles_df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Tile rows → parquet, partitioned for band/time pruning."""
    (
        tiles_df.repartition("band", "t")
        .sortWithinPartitions("iy", "ix")
        .write.mode(mode)
        .partitionBy("band", "t")
        .parquet(path)
    )


def read_tiles_parquet(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_cog(
    tiles_df: DataFrame, plan, out_dir: str, parallel_encode: bool = True
) -> list:
    """S14 sink: one cloud-optimized GeoTIFF per (band, time group),
    written by the in-house pure-Python writer (sources/geotiff.py —
    COG IFD-first layout, tiled, GeoTIFF keys, overview IFDs, GDAL_NODATA).
    The reference's equivalent is ``xx.odc.write_cog``
    (docs/samples/save-cog-from-stac.py).

    **Distributed**: tiles are repartitioned by (band, t) so every output
    file's tiles land on one executor, which assembles that single image
    and writes the COG from ``foreachPartition`` — the same pattern as
    :func:`write_zarr`; the driver collects no pixels and only returns the
    manifest of paths. Per-task memory is one full (ny, nx) image — the
    inherent unit of a COG — while the *export as a whole* parallelizes
    across bands × time groups. The per-file writer (``write_cog_file``)
    accepts any rangeio destination (local / ``s3://`` put_object /
    ``http(s)://`` PUT); this sink's manifest + backfill pass lists a
    LOCAL ``out_dir`` — for an object-store export, call
    ``write_cog_file`` per (band, t) with remote URLs directly.

    A (band, t) group with no tiles at all (a time group the band never
    observed) is backfilled driver-side with a nodata-filled image, so
    every present band gets the full ``nt`` files exactly as the previous
    driver-side writer produced. Returns the written paths,
    band-major/t-minor.

    ``parallel_encode`` (the default) cuts and deflates COG blocks inside
    the load tasks when the tiles align to the 256-px block grid;
    ``False``, or unaligned tiles, take the serial one-task-per-file
    writer, which produces the same bytes."""
    import itertools

    from ..operators.mosaic import empty_fill
    from ..plans.load import resolve_dst_nodata, resolve_src_nodata
    from .geotiff import write_cog_file

    nt = max(len(plan.group_keys), 1)
    ny, nx = plan.gbox.shape
    gbox = plan.gbox
    cfg = dict(plan.cfg)  # band → RasterLoadParams: tiny, closure-captured
    os.makedirs(out_dir, exist_ok=True)

    def _fills(band, dst_dtype):
        c = cfg[band]
        src_nodata = resolve_src_nodata(None, c)
        dst_nodata = resolve_dst_nodata(dst_dtype, c, src_nodata)
        return empty_fill(dst_dtype, dst_nodata), c.fill_value

    def _write_partition(rows):
        for (band, t), grp in itertools.groupby(rows, key=lambda r: (r.band, r.t)):
            tiles = list(grp)
            dst_dtype = np.dtype(tiles[0].dtype)
            fill, nodata = _fills(band, dst_dtype)
            img = np.full((ny, nx), fill, dst_dtype)
            for r in tiles:
                arr = np.frombuffer(r.data, dtype=np.dtype(r.dtype)).reshape(
                    r.height, r.width
                )
                img[r.y0 : r.y0 + r.height, r.x0 : r.x0 + r.width] = arr
            write_cog_file(
                os.path.join(out_dir, f"{band}_t{t}.tif"), img, gbox, nodata=nodata
            )

    # the map-side cut requires input tiles aligned to the 256-px COG
    # block grid (any multiple-of-256 chunking); otherwise fall back to
    # the serial one-task-per-file writer
    tile_shape = plan.tiles.tile_shape
    if parallel_encode and tile_shape[0] % 256 == 0 and tile_shape[1] % 256 == 0:
        _write_cog_parallel(tiles_df, gbox, out_dir, ny, nx, _fills)
    else:
        (
            tiles_df.repartition("band", "t")
            .sortWithinPartitions("band", "t", "iy", "ix")
            .foreachPartition(_write_partition)
        )

    # manifest + rare backfill of all-empty time groups for present bands
    # (shared by both encode paths)
    present = {
        f.rsplit("_t", 1)[0] for f in os.listdir(out_dir) if f.endswith(".tif")
    }
    paths = []
    for band in plan.bands:
        if band not in present:
            continue
        for t in range(nt):
            p = os.path.join(out_dir, f"{band}_t{t}.tif")
            if not os.path.exists(p):
                c = cfg[band]
                dst_dtype = np.dtype(c.dtype or "float32")
                fill, nodata = _fills(band, dst_dtype)
                write_cog_file(
                    p, np.full((ny, nx), fill, dst_dtype), gbox, nodata=nodata
                )
            paths.append(p)
    return paths


def _write_cog_parallel(tiles_df: DataFrame, gbox, out_dir: str, ny, nx, fills) -> None:
    """Tile-parallel COG encode (VERDICT r14 #4): the serial path's wall
    is one task per output file doing ALL of that file's deflate, so a
    10-file export uses 10 of 32 cores. Here the full-resolution encode
    happens MAP-SIDE in the load tasks themselves:

    1. cut+encode — mapInPandas over the incoming tile rows (no shuffle,
       no image assembly): because load tiles are aligned to the 256-px
       COG block grid (checked by the caller), every output block lies
       entirely inside one input tile — each task cuts its tiles into
       the exact zero-padded blocks cut_cog_blocks defines, deflates
       them in place, and emits (a) compressed full-res blocks keyed by
       global row-major index and (b) a RAW half-res decimation patch
       per tile (arr[::2, ::2], 1/4 the bytes) for overview building.
       Deflate parallelism = load parallelism, and only compressed
       blocks + quarter-size patches ever reach a shuffle.
    2. write — groupBy(band, t).applyInPandas: synthesize any missing
       full-res blocks (regions with no tile = nodata fill, truncated
       at the image edge exactly like the serial path's filled canvas),
       assemble the half-res image from the patches (fill-initialized),
       derive every overview by further decimation (img2[::lv//2] ==
       pix[::lv] because tile origins are even multiples of the chunk),
       deflate the overview levels (≤ 1/3 of the pixels), and write the
       file via write_cog_file_from_tiles. IFD planning needs only
       shape/dtype/geobox, so no full-res pixels are reassembled —
       per-file payload into this stage is compressed blocks + a
       quarter-res patch set.

    An earlier draft assembled full images and shuffled RAW blocks to a
    dedicated encode stage; the double Arrow crossing + raw-payload
    shuffle cost more than it saved (59.8 s vs 21.5 s serial at the 10×
    rehearsal). This shape moves strictly less data than the serial
    path itself. Byte-identical output (same block order, zlib level,
    IFD planning — asserted in tests/test_sinks.py)."""
    import pandas as pd

    from .geotiff import (
        _compress_block,
        cog_overview_levels,
        cut_cog_blocks,
        write_cog_file_from_tiles,
    )

    TILE = 256
    ovl = cog_overview_levels((ny, nx))
    nby, nbx = (ny + TILE - 1) // TILE, (nx + TILE - 1) // TILE

    def _cut_encode(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                arr = np.frombuffer(r.data, dtype=np.dtype(r.dtype)).reshape(
                    r.height, r.width
                )
                t = int(r.t)
                for by in range(0, r.height, TILE):
                    for bx in range(0, r.width, TILE):
                        block = np.zeros((TILE, TILE), arr.dtype)
                        sub = arr[by : by + TILE, bx : bx + TILE]
                        block[: sub.shape[0], : sub.shape[1]] = sub
                        gidx = ((r.y0 + by) // TILE) * nbx + (r.x0 + bx) // TILE
                        rows.append(
                            (r.band, t, 0, gidx, 0, 0, str(arr.dtype), 0, 0,
                             _compress_block(block, "deflate"))
                        )
                if ovl:
                    patch = np.ascontiguousarray(arr[::2, ::2])
                    rows.append(
                        (r.band, t, 1, 0, r.y0 // 2, r.x0 // 2, str(arr.dtype),
                         patch.shape[0], patch.shape[1], patch.tobytes())
                    )
            yield pd.DataFrame(
                rows,
                columns=["band", "t", "kind", "idx", "py", "px", "dt", "h", "w",
                         "payload"],
            )

    enc = tiles_df.mapInPandas(
        _cut_encode,
        "band string, t long, kind int, idx long, py int, px int, dt string, "
        "h int, w int, payload binary",
    )

    def _write(key, pdf):
        band, t = key[0], int(key[1])
        dst_dtype = np.dtype(pdf["dt"].iloc[0])
        fill, nodata = fills(band, dst_dtype)
        blocks = pdf[pdf["kind"] == 0]
        comp0 = dict(zip(blocks["idx"].astype(int), blocks["payload"]))
        fill_cache: dict = {}

        def fill_block(h_in, w_in):
            # a missing tile's region is nodata fill inside the image,
            # zero beyond it — same bytes the serial filled canvas cuts
            if (h_in, w_in) not in fill_cache:
                b = np.zeros((TILE, TILE), dst_dtype)
                b[:h_in, :w_in] = fill
                fill_cache[(h_in, w_in)] = _compress_block(b, "deflate")
            return fill_cache[(h_in, w_in)]

        tiles0 = []
        for ty in range(nby):
            for tx in range(nbx):
                idx = ty * nbx + tx
                got = comp0.get(idx)
                if got is None:
                    got = fill_block(
                        min(TILE, ny - ty * TILE), min(TILE, nx - tx * TILE)
                    )
                tiles0.append(bytes(got))
        level_tiles = [tiles0]
        if ovl:
            h2, w2 = (ny + 1) // 2, (nx + 1) // 2
            img2 = np.full((h2, w2), fill, dst_dtype)
            for r in pdf[pdf["kind"] == 1].itertuples():
                img2[r.py : r.py + r.h, r.px : r.px + r.w] = np.frombuffer(
                    r.payload, dtype=np.dtype(r.dt)
                ).reshape(r.h, r.w)
            for lv in ovl:
                arrlv = img2[:: lv // 2, :: lv // 2]
                level_tiles.append(
                    [_compress_block(b, "deflate")
                     for _, b in cut_cog_blocks(arrlv)]
                )
        path = os.path.join(out_dir, f"{band}_t{t}.tif")
        write_cog_file_from_tiles(
            path, (ny, nx), dst_dtype, gbox, level_tiles,
            nodata=nodata, overview_levels=ovl,
        )
        return pd.DataFrame([{"band": band, "t": t, "path": path}])

    # one manifest row per output file — the collect is bounded and
    # forces the distributed writes
    enc.groupBy("band", "t").applyInPandas(
        _write, "band string, t long, path string"
    ).collect()


def _zarr_dtype(np_dtype: str) -> str:
    """numpy dtype → zarr v2 dtype string ('<i2', '<f4', ...)."""
    s = np.dtype(np_dtype).str
    return s


def _zarr_fill_json(fill):
    """zarr v2 JSON encoding of a fill value: non-finite floats become
    the spec's string forms."""
    if isinstance(fill, float):
        if fill != fill:
            return "NaN"
        if fill == float("inf"):
            return "Infinity"
        if fill == float("-inf"):
            return "-Infinity"
    return fill


def _zarr_fill_parse(fill):
    if fill == "NaN":
        return float("nan")
    if fill == "Infinity":
        return float("inf")
    if fill == "-Infinity":
        return float("-inf")
    return fill


def write_zarr(tiles_df: DataFrame, plan, out_dir: str, compressor: str = "zlib") -> None:
    """S13-adjacent distributed sink: tiles DataFrame → Zarr v2 group.

    One zarr array per band, shape ``(nt, ny, nx)``, chunks
    ``(1, tile_h, tile_w)`` — the load pipeline's tile grid IS the zarr
    chunk grid, so every chunk file is written by the executor that holds
    the tile (``foreachPartition``; no shuffle, no driver collect). Edge
    tiles are padded to the full chunk shape with the fill value, exactly
    as the zarr v2 spec requires for overhanging chunks. The driver writes
    only the O(bands) JSON metadata plus 1-D coordinate arrays
    (xarray ``_ARRAY_DIMENSIONS`` convention, so ``xr.open_zarr`` sees a
    georeferenced (time, y, x) cube).

    On a real cluster ``out_dir`` must be a shared filesystem (or swap the
    ``open`` calls for an object-store client); locally any directory
    works. ``compressor``: "zlib" (stdlib, level 1) or "none".
    """
    if compressor not in ("zlib", "none"):
        raise ValueError(f"compressor must be 'zlib' or 'none', got {compressor!r}")
    from ..plans.load import resolve_dst_nodata, resolve_src_nodata

    nt = max(len(plan.group_keys), 1)
    ny, nx = plan.gbox.shape
    ty, tx = plan.tiles.tile_shape
    comp_json = {"id": "zlib", "level": 1} if compressor == "zlib" else None

    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)
    tr = plan.gbox.transform
    with open(os.path.join(out_dir, ".zattrs"), "w") as f:
        json.dump({"crs": plan.gbox.crs, "transform": list(tr)}, f)

    fills = {}
    for band in plan.bands:
        c = plan.cfg[band]
        dtype = np.dtype(c.dtype or "float32")
        src_nodata = resolve_src_nodata(None, c)
        nodata = resolve_dst_nodata(dtype, c, src_nodata)
        fill = nodata
        if fill is None:
            fill = float("nan") if dtype.kind == "f" else 0
        fills[band] = (str(dtype), float(fill) if dtype.kind == "f" else int(fill))
        adir = os.path.join(out_dir, band)
        os.makedirs(adir, exist_ok=True)
        zarray = {
            "zarr_format": 2,
            "shape": [nt, ny, nx],
            "chunks": [1, ty, tx],
            "dtype": _zarr_dtype(str(dtype)),
            "compressor": comp_json,
            # zarr v2 spec: non-finite float fills are encoded as the
            # JSON strings "NaN"/"Infinity"/"-Infinity". Always declare the
            # value actually used to pad edge chunks (fills[band][1]) even
            # when the band has no nodata: a null fill means *undefined*
            # per spec, so external readers (zarr-python/xarray) would
            # surface unmasked garbage for absent chunks and disagree with
            # the padding physically written below.
            "fill_value": _zarr_fill_json(fills[band][1]),
            "order": "C",
            "filters": None,
        }
        with open(os.path.join(adir, ".zarray"), "w") as f:
            json.dump(zarray, f)
        with open(os.path.join(adir, ".zattrs"), "w") as f:
            json.dump({"_ARRAY_DIMENSIONS": ["time", "y", "x"]}, f)

    _write_zarr_coords(plan, out_dir, nt, ny, nx, comp_json, compressor)

    # executor-side chunk writes: tile (band, t, iy, ix) → file band/t.iy.ix
    fills_b = fills  # closure-captured tiny dict (broadcast-equivalent)

    def _write_partition(rows):
        for row in rows:
            dtype = np.dtype(row.dtype)
            arr = np.frombuffer(row.data, dtype=dtype).reshape(row.height, row.width)
            if (row.height, row.width) != (ty, tx):
                full = np.full((ty, tx), np.asarray(fills_b[row.band][1], dtype), dtype)
                full[: row.height, : row.width] = arr
                arr = full
            payload = arr.tobytes()
            if comp_json is not None:
                payload = zlib.compress(payload, 1)
            path = os.path.join(out_dir, row.band, f"{row.t}.{row.iy}.{row.ix}")
            with open(path, "wb") as f:
                f.write(payload)

    tiles_df.foreachPartition(_write_partition)


def _write_zarr_coords(plan, out_dir, nt, ny, nx, comp_json, compressor) -> None:
    """1-D time/y/x coordinate arrays (single-chunk, driver-side)."""
    tr = plan.gbox.transform
    ts = plan.group_ts or []
    time_ns = np.array(
        [int(np.datetime64(t, "ns").astype("int64")) for t in ts] or [0] * nt,
        dtype="<i8",
    )
    ys = (tr[5] + tr[4] * (np.arange(ny) + 0.5)).astype("<f8")
    xs = (tr[2] + tr[0] * (np.arange(nx) + 0.5)).astype("<f8")
    for name, vec, dims in (
        ("time", time_ns, ["time"]),
        ("y", ys, ["y"]),
        ("x", xs, ["x"]),
    ):
        adir = os.path.join(out_dir, name)
        os.makedirs(adir, exist_ok=True)
        with open(os.path.join(adir, ".zarray"), "w") as f:
            json.dump(
                {
                    "zarr_format": 2,
                    "shape": [len(vec)],
                    "chunks": [len(vec)],
                    "dtype": vec.dtype.str,
                    "compressor": comp_json,
                    "fill_value": None,
                    "order": "C",
                    "filters": None,
                },
                f,
            )
        attrs = {"_ARRAY_DIMENSIONS": dims}
        if name == "time":
            # xarray datetime64[ns] encoding convention
            attrs["units"] = "nanoseconds since 1970-01-01"
        with open(os.path.join(adir, ".zattrs"), "w") as f:
            json.dump(attrs, f)
        payload = vec.tobytes()
        if comp_json is not None:
            payload = zlib.compress(payload, 1)
        with open(os.path.join(adir, "0"), "wb") as f:
            f.write(payload)


def read_zarr_array(path: str) -> np.ndarray:
    """Minimal zarr v2 array reader (round-trip verification — the
    container has no zarr package): parse .zarray, read every chunk file,
    decompress, assemble, trim overhang."""
    with open(os.path.join(path, ".zarray")) as f:
        meta = json.load(f)
    if meta.get("filters"):
        raise NotImplementedError("filters not supported")
    comp = meta.get("compressor")
    if comp is not None and comp.get("id") != "zlib":
        raise NotImplementedError(f"compressor {comp.get('id')!r} not supported")
    shape = meta["shape"]
    chunks = meta["chunks"]
    dtype = np.dtype(meta["dtype"])
    fill = _zarr_fill_parse(meta.get("fill_value"))
    out = np.full(shape, 0 if fill is None else fill, dtype)
    ncells = [-(-s // c) for s, c in zip(shape, chunks)]
    for name in os.listdir(path):
        if name.startswith("."):
            continue
        idx = [int(p) for p in name.split(".")]
        if len(idx) != len(shape):
            continue
        with open(os.path.join(path, name), "rb") as f:
            payload = f.read()
        if comp is not None:
            payload = zlib.decompress(payload)
        arr = np.frombuffer(payload, dtype=dtype).reshape(chunks)
        sel = tuple(
            slice(i * c, min((i + 1) * c, s)) for i, c, s in zip(idx, chunks, shape)
        )
        trim = tuple(slice(0, sl.stop - sl.start) for sl in sel)
        out[sel] = arr[trim]
        assert all(i < n for i, n in zip(idx, ncells))
    return out


# ---------------------------------------------------------------------------
# Zarr v3 (the CURRENT spec: https://zarr-specs.readthedocs.io/ v3.0)


_ZARR3_DTYPE = {
    "int8": "int8", "int16": "int16", "int32": "int32", "int64": "int64",
    "uint8": "uint8", "uint16": "uint16", "uint32": "uint32",
    "uint64": "uint64", "float32": "float32", "float64": "float64",
}


def _zarr3_codecs(compressor: str) -> list:
    codecs = [{"name": "bytes", "configuration": {"endian": "little"}}]
    if compressor == "gzip":
        codecs.append({"name": "gzip", "configuration": {"level": 1}})
    elif compressor == "zstd":
        codecs.append(
            {"name": "zstd", "configuration": {"level": 3, "checksum": False}}
        )
    elif compressor != "none":
        raise ValueError(f"compressor must be 'gzip', 'zstd' or 'none', got {compressor!r}")
    return codecs


def _zarr3_compress(payload: bytes, compressor: str) -> bytes:
    if compressor == "gzip":
        import gzip as _gzip

        return _gzip.compress(payload, 1)
    if compressor == "zstd":
        import pyarrow as pa

        return bytes(pa.Codec("zstd", 3).compress(payload))
    return payload


def _zarr3_array_meta(shape, chunk_shape, dtype, fill, compressor, dims, attrs=None):
    v3_dt = _ZARR3_DTYPE.get(str(dtype))
    if v3_dt is None:
        raise ValueError(f"no zarr v3 data type for {dtype}")
    if fill is None:
        fill_json = 0
    elif isinstance(fill, float) and math.isnan(fill):
        fill_json = "NaN"
    elif isinstance(fill, float) and math.isinf(fill):
        fill_json = "Infinity" if fill > 0 else "-Infinity"
    else:
        fill_json = fill
    return {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(shape),
        "data_type": v3_dt,
        "chunk_grid": {
            "name": "regular",
            "configuration": {"chunk_shape": list(chunk_shape)},
        },
        "chunk_key_encoding": {
            "name": "default",
            "configuration": {"separator": "/"},
        },
        "fill_value": fill_json,
        "codecs": _zarr3_codecs(compressor),
        "dimension_names": list(dims),
        "attributes": attrs or {},
    }


def write_zarr_v3(tiles_df: DataFrame, plan, out_dir: str, compressor: str = "zstd") -> None:
    """Distributed sink to a Zarr **v3** hierarchy (the current spec the
    ecosystem is migrating to; v2 stays available as :func:`write_zarr`).

    Same scale shape as the v2 sink: the load pipeline's tile grid IS the
    chunk grid, chunks are written from the executors
    (``foreachPartition``, no shuffle, no driver collect), the driver
    writes only O(bands) ``zarr.json`` metadata + 1-D coords. v3
    specifics handled here: ``node_type`` group/array documents, the
    ``regular`` chunk grid, default chunk-key encoding with ``/``
    separator (chunks live at ``c/t/iy/ix``), the ``bytes`` +
    gzip/zstd codec chain, and ``dimension_names``.
    """
    _zarr3_codecs(compressor)  # validate early
    from ..plans.load import resolve_dst_nodata, resolve_src_nodata

    nt = max(len(plan.group_keys), 1)
    ny, nx = plan.gbox.shape
    ty, tx = plan.tiles.tile_shape

    os.makedirs(out_dir, exist_ok=True)
    tr = plan.gbox.transform
    with open(os.path.join(out_dir, "zarr.json"), "w") as f:
        json.dump(
            {
                "zarr_format": 3,
                "node_type": "group",
                "attributes": {"crs": plan.gbox.crs, "transform": list(tr)},
            },
            f,
        )

    fills = {}
    for band in plan.bands:
        c = plan.cfg[band]
        dtype = np.dtype(c.dtype or "float32")
        nodata = resolve_dst_nodata(dtype, c, resolve_src_nodata(None, c))
        fill = nodata
        if fill is None:
            fill = float("nan") if dtype.kind == "f" else 0
        fills[band] = (str(dtype), float(fill) if dtype.kind == "f" else int(fill))
        adir = os.path.join(out_dir, band)
        os.makedirs(os.path.join(adir, "c"), exist_ok=True)
        meta = _zarr3_array_meta(
            (nt, ny, nx), (1, ty, tx), dtype, fills[band][1], compressor,
            ("time", "y", "x"),
        )
        with open(os.path.join(adir, "zarr.json"), "w") as f:
            json.dump(meta, f)

    # 1-D coordinates (single-chunk, driver-side)
    ts = plan.group_ts or []
    time_ns = np.array(
        [int(np.datetime64(t, "ns").astype("int64")) for t in ts] or [0] * nt,
        dtype="<i8",
    )
    ys = (tr[5] + tr[4] * (np.arange(ny) + 0.5)).astype("<f8")
    xs = (tr[2] + tr[0] * (np.arange(nx) + 0.5)).astype("<f8")
    for name, vec in (("time", time_ns), ("y", ys), ("x", xs)):
        adir = os.path.join(out_dir, name)
        os.makedirs(os.path.join(adir, "c"), exist_ok=True)
        attrs = {"units": "nanoseconds since 1970-01-01"} if name == "time" else {}
        meta = _zarr3_array_meta(
            (len(vec),), (len(vec),), vec.dtype.name, 0, compressor, (name,), attrs
        )
        with open(os.path.join(adir, "zarr.json"), "w") as f:
            json.dump(meta, f)
        with open(os.path.join(adir, "c", "0"), "wb") as f:
            f.write(_zarr3_compress(vec.tobytes(), compressor))

    fills_b = fills

    def _write_partition(rows):
        for row in rows:
            dtype = np.dtype(row.dtype)
            arr = np.frombuffer(row.data, dtype=dtype).reshape(row.height, row.width)
            if (row.height, row.width) != (ty, tx):
                full = np.full((ty, tx), np.asarray(fills_b[row.band][1], dtype), dtype)
                full[: row.height, : row.width] = arr
                arr = full
            cdir = os.path.join(out_dir, row.band, "c", str(row.t), str(row.iy))
            os.makedirs(cdir, exist_ok=True)
            with open(os.path.join(cdir, str(row.ix)), "wb") as f:
                f.write(_zarr3_compress(arr.tobytes(), compressor))

    tiles_df.foreachPartition(_write_partition)


def read_zarr_v3_array(path: str) -> np.ndarray:
    """Minimal zarr v3 array reader (round-trip verification; no zarr
    package in the container): parse zarr.json, walk the ``c/``
    chunk-key tree, undo the codec chain, assemble, trim overhang."""
    with open(os.path.join(path, "zarr.json")) as f:
        meta = json.load(f)
    if meta.get("zarr_format") != 3 or meta.get("node_type") != "array":
        raise ValueError("not a zarr v3 array node")
    shape = meta["shape"]
    grid = meta["chunk_grid"]
    if grid["name"] != "regular":
        raise NotImplementedError(f"chunk grid {grid['name']!r} not supported")
    chunks = grid["configuration"]["chunk_shape"]
    cke = meta.get("chunk_key_encoding", {"name": "default"})
    sep = cke.get("configuration", {}).get("separator", "/")
    dtype = np.dtype(meta["data_type"])
    codecs = meta["codecs"]
    if codecs[0]["name"] != "bytes":
        raise NotImplementedError("first codec must be 'bytes'")
    if codecs[0].get("configuration", {}).get("endian", "little") == "big":
        dtype = dtype.newbyteorder(">")
    comp = codecs[1]["name"] if len(codecs) > 1 else None
    if comp not in (None, "gzip", "zstd"):
        raise NotImplementedError(f"codec {comp!r} not supported")
    fill = meta.get("fill_value", 0)
    if fill == "NaN":
        fill = float("nan")
    elif fill == "Infinity":
        fill = float("inf")
    elif fill == "-Infinity":
        fill = float("-inf")
    out = np.full(shape, fill, dtype)
    base = os.path.join(path, "c") if cke.get("name") == "default" else path
    prefix = "" if cke.get("name") == "default" else "c" + sep
    for root, _dirs, files in os.walk(base):
        for name in files:
            rel = os.path.relpath(os.path.join(root, name), base)
            parts = rel.split(os.sep)
            if prefix:
                key = prefix + sep.join(parts)
                parts = key.split(sep)[1:]
            try:
                idx = [int(p) for p in parts]
            except ValueError:
                continue
            if len(idx) != len(shape):
                continue
            with open(os.path.join(root, name), "rb") as f:
                payload = f.read()
            if comp == "gzip":
                import gzip as _gzip

                payload = _gzip.decompress(payload)
            elif comp == "zstd":
                import pyarrow as pa

                expected = int(np.prod(chunks)) * dtype.itemsize
                payload = bytes(pa.Codec("zstd").decompress(payload, expected))
            arr = np.frombuffer(payload, dtype=dtype).reshape(chunks)
            sel = tuple(
                slice(i * c, min((i + 1) * c, s))
                for i, c, s in zip(idx, chunks, shape)
            )
            trim = tuple(slice(0, sl.stop - sl.start) for sl in sel)
            out[sel] = arr[trim]
    return out
