"""Reader drivers for the pixel plane.

The reference's reader protocol (``SomeReader.read(src, cfg, dst_geobox,
dst)``, loader/types.py:142-157) is mirrored here as a pluggable driver
that executes *inside Spark executors* (called from the mosaic
``mapInPandas`` tile task — see plans/load.py).

Two drivers:

- :class:`SynthReader` — deterministic synthetic rasters addressed by
  ``synth://<name>?seed=N`` URIs. Pixel values are a pure function of the
  source pixel coordinate, so tests can compute expected output
  independently. Supports windowed reads, overview levels, per-source
  nodata holes — the same surface rasterio gives the reference
  (loader/testing/fixtures.py generates tiny COGs for the same purpose).
- :class:`RioReader` — the real COG/GeoTIFF path. rasterio is not
  available in this environment, so it raises with a clear message; the
  call sites, config plumbing and partitioning are real, which is the
  Spark-side work this engine owns (SURVEY §2.1 S8-S10).

At 100 TB: readers run one per tile-task; executor processes hold
per-process session state (the analog of the reference's thread-local GDAL
env, loader/_rio.py:126-176) via the module-level ``_ENV`` singleton.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Optional, Tuple
from urllib.parse import parse_qs, urlparse

import numpy as np

from ..model import (
    GeoBox,
    RasterLoadParams,
    RasterSource,
    nodata_mask,
    pick_overview,
    resolve_dst_dtype,
    resolve_dst_nodata,
    resolve_src_nodata,
)

# executor-process-level environment singleton (reference restores GDAL env
# per task, loader/_builder.py:169; Spark python workers are long-lived
# processes so a lazy module singleton amortizes session setup)
_ENV: dict = {}


def capture_env() -> dict:
    return dict(_ENV)


def restore_env(env: dict) -> None:
    _ENV.clear()
    _ENV.update(env)


#: statistic-over-footprint modes (share the center-binning scatter path)
_BIN_MODES = ("average", "mode", "min", "max", "med", "q1", "q3", "sum", "rms", "gauss")
#: separable-convolution modes with their tap offsets (kernel support)
_CONV_TAPS = {
    "bilinear": (0, 1),
    "cubic": (-1, 0, 1, 2),
    "cubic_spline": (-1, 0, 1, 2),
    "lanczos": (-2, -1, 0, 1, 2, 3),
}
#: full mode surface — the same 15-mode set the reference exposes through
#: rasterio (odc-geo resampling_s2rio, loader/_rio.py:327)
RESAMPLING_MODES = ("nearest",) + tuple(_CONV_TAPS) + _BIN_MODES


def _segment_reduce(mode: str, b: np.ndarray, v: np.ndarray, n: int):
    """Per-bin order statistics over (bin, value) pairs without a Python
    loop over bins: lexsort once, then segment math. ``med``/``q1``/``q3``
    use linear-interpolation quantiles; ``mode`` picks the most frequent
    value, ties → smallest value."""
    out = np.zeros(n)
    filled = np.zeros(n, dtype=bool)
    if b.size == 0:
        return out, filled
    o = np.lexsort((v, b))
    bs, vs = b[o], v[o]
    starts = np.r_[0, np.flatnonzero(bs[1:] != bs[:-1]) + 1]
    counts = np.diff(np.r_[starts, bs.size])
    if mode in ("med", "q1", "q3"):
        q = {"med": 0.5, "q1": 0.25, "q3": 0.75}[mode]
        pos = (counts - 1) * q
        lo = np.floor(pos).astype(np.int64)
        frac = pos - lo
        hi = np.minimum(lo + 1, counts - 1)
        uniq = bs[starts]
        res = vs[starts + lo] * (1.0 - frac) + vs[starts + hi] * frac
    else:  # mode
        change = np.r_[True, (bs[1:] != bs[:-1]) | (vs[1:] != vs[:-1])]
        rs = np.flatnonzero(change)
        rb, rv = bs[rs], vs[rs]
        rc = np.diff(np.r_[rs, bs.size])
        o2 = np.lexsort((rv, -rc, rb))
        first = np.r_[True, rb[o2][1:] != rb[o2][:-1]]
        uniq = rb[o2][first]
        res = rv[o2][first]
    out[uniq] = res
    filled[uniq] = True
    return out, filled


def _cubic_kernel(t: np.ndarray, a: float = -0.5) -> np.ndarray:
    """Keys cubic-convolution kernel (a=-0.5 — the GDAL/rasterio default)."""
    t = np.abs(t)
    return np.where(
        t <= 1.0,
        (a + 2.0) * t**3 - (a + 3.0) * t**2 + 1.0,
        np.where(t < 2.0, a * (t**3 - 5.0 * t**2 + 8.0 * t - 4.0), 0.0),
    )


def _bspline_kernel(t: np.ndarray) -> np.ndarray:
    """Cubic B-spline kernel (the GDAL ``cubicspline`` smoothing kernel —
    applied directly to samples, so it smooths rather than interpolates)."""
    t = np.abs(t)
    return np.where(
        t <= 1.0,
        (4.0 - 6.0 * t**2 + 3.0 * t**3) / 6.0,
        np.where(t < 2.0, (2.0 - t) ** 3 / 6.0, 0.0),
    )


def _lanczos_kernel(t: np.ndarray, a: int = 3) -> np.ndarray:
    """Lanczos windowed-sinc kernel, a=3 (the GDAL/rasterio choice)."""
    t = np.asarray(t, dtype=np.float64)
    return np.where(np.abs(t) < a, np.sinc(t) * np.sinc(t / a), 0.0)


_CONV_KERNELS = {
    "bilinear": lambda t: 1.0 - np.abs(t),  # tent
    "cubic": _cubic_kernel,
    "cubic_spline": _bspline_kernel,
    "lanczos": _lanczos_kernel,
}


@dataclass
class ReadResult:
    roi_y: Tuple[int, int]
    roi_x: Tuple[int, int]
    # pix: already in dst dtype with dst nodata applied. Contract: a FRESH,
    # task-private, writable buffer — fill_tile may adopt and mutate it in
    # place when a single read covers the whole tile (it gates adoption on
    # writeable/owns-data, but a reader handing out cached or shared
    # arrays still forfeits the zero-copy path).
    pix: np.ndarray


class SynthReader:
    """Deterministic synthetic raster source.

    ``synth://<name>?seed=N&nodata_every=K`` over a source GeoBox:
    value(py, px) = (seed*7919 + py*8191 + px*127) % 10007, with pixels
    where (py + px + seed) % nodata_every == 0 set to the source nodata
    (if the source declares one). Computable anywhere — executor or test.
    """

    @staticmethod
    def _params(uri: str) -> Tuple[int, int]:
        q = parse_qs(urlparse(uri).query)
        seed = int(q.get("seed", ["0"])[0])
        nodata_every = int(q.get("nodata_every", ["0"])[0])
        sub = q.get("subdataset", [None])[0]
        if sub:
            # subdataset addressing (netcdf/hdf5-style multi-variable
            # containers, reference loader/types.py:52-53): each variable
            # is an independent deterministic value field
            import zlib as _z

            seed += _z.crc32(sub.encode()) % 997
        return seed, nodata_every

    def _resolve_subdataset(self, src: RasterSource) -> RasterSource:
        """Fold ``RasterSource.subdataset`` into the source address
        (reference loader/types.py:52-53 — netcdf/hdf5 variable selection
        travels with the source). Synth URIs carry it as a query param so
        every window fetch sees the variable-specific value field."""
        import dataclasses

        sep = "&" if "?" in src.uri else "?"
        return dataclasses.replace(
            src, uri=f"{src.uri}{sep}subdataset={src.subdataset}", subdataset=None
        )

    @staticmethod
    def gen_window(
        uri: str,
        src_nodata: Optional[float],
        dtype: str,
        py0: int,
        py1: int,
        px0: int,
        px1: int,
        decimation: int = 1,
    ) -> np.ndarray:
        """Generate source pixels for window [py0,py1)×[px0,px1) at the
        given overview decimation (values sampled at full-res coords of
        the decimated grid origin — nearest-style overview)."""
        seed, nodata_every = SynthReader._params(uri)
        ys = py0 + np.arange((py1 - py0 + decimation - 1) // decimation, dtype=np.int64) * decimation
        xs = px0 + np.arange((px1 - px0 + decimation - 1) // decimation, dtype=np.int64) * decimation
        # Modular arithmetic on the 1-D axis vectors, then a small-int 2-D
        # combine: (a+b+c) % m == ((a%m)+(b%m)+(c%m)) % m, and each residue
        # fits int32, so the hot 2-D ops avoid int64 (~2.5x faster — this
        # generator is the bench's stand-in for GDAL decode cost).
        ysm = ((ys * 8191) % 10007).astype(np.int32)[:, None]
        xsm = ((xs * 127) % 10007).astype(np.int32)[None, :]
        vals = (seed * 7919 % 10007) + ysm + xsm
        vals %= 10007
        out = vals.astype(dtype)
        if nodata_every > 0 and src_nodata is not None:
            hy = (ys % nodata_every).astype(np.int32)[:, None]
            hx = (xs % nodata_every).astype(np.int32)[None, :]
            # reuse the finished int32 `vals` buffer for the hole
            # pattern: a second full-window int32 allocation here paid
            # page-fault cost on every tile of a loaded 32-worker bus
            hole = np.add(hy, hx, out=vals)
            hole += seed % nodata_every
            hole %= nodata_every
            out[hole == 0] = np.asarray(src_nodata, dtype=out.dtype)
        return out

    def _window(
        self,
        uri: str,
        src_nodata: Optional[float],
        dtype: str,
        py0: int,
        py1: int,
        px0: int,
        px1: int,
        decimation: int = 1,
        use_overviews: bool = True,
    ) -> np.ndarray:
        """Driver-specific window fetch — the ONLY method a concrete
        format driver must override; the paste/warp/overview planning in
        ``read``/``_warp`` is format-agnostic (same split as the reference
        protocol, loader/types.py:142-157). ``use_overviews=False`` forces
        full-resolution reads (RasterLoadParams.use_overviews — matters
        for files whose overviews were built with non-nearest resampling).

        Buffer contract (ADVICE r16): the returned array must be a FRESH,
        writable, task-private buffer — ``read`` converts it in place
        (``astype(copy=False)`` + in-place nodata ``copyto``) and
        ``fill_tile`` may adopt it as the destination tile. A driver that
        returns cached, memory-mapped or otherwise shared storage must
        copy before returning."""
        return SynthReader.gen_window(
            uri, src_nodata, dtype, py0, py1, px0, px1, decimation
        )

    def read(
        self,
        src: RasterSource,
        cfg: RasterLoadParams,
        dst_geobox: GeoBox,
    ) -> Optional[ReadResult]:
        """Windowed read + paste into the destination grid — the reference's
        paste fast-path (loader/_rio.py:350-368): same CRS, aligned grids.
        Overview selection per pick_overview (loader/_reader.py:104-114).
        Returns None when src/dst don't overlap (empty-ROI short-circuit,
        loader/_rio.py:341-348)."""
        if src.subdataset is not None:
            src = self._resolve_subdataset(src)
        sgb = src.geobox
        if sgb is None:
            raise ValueError(f"source {src.uri} has no geobox")
        if sgb.crs != dst_geobox.crs:
            from ..functions.proj import can_transform

            if not can_transform(sgb.crs, dst_geobox.crs):
                raise NotImplementedError(
                    f"cross-CRS warp {sgb.crs}→{dst_geobox.crs}: only "
                    "WGS84↔UTM is built in (functions/proj.py); other CRS "
                    "pairs need pyproj/rasterio (RioReader slot)"
                )

        src_dtype = src.meta.data_type if src.meta and src.meta.data_type else "int32"
        file_nodata = src.meta.nodata if src.meta else None
        src_nodata = resolve_src_nodata(file_nodata, cfg)
        dst_dtype = resolve_dst_dtype(src_dtype, cfg)
        dst_nodata = resolve_dst_nodata(dst_dtype, cfg, src_nodata)

        # paste-vs-warp choice (reference loader/_rio.py:350-368, :445-447):
        # integer shrink on an aligned grid → decimated windowed read
        # (the overview predicate-pushdown path); anything else —
        # sub-pixel offsets, non-integer scale ratios, upsampling, or an
        # explicit non-nearest resampling — takes the warp path below.
        ssx, _, sx0, _, ssy, sy0 = sgb.transform
        dsx, _, dx0, _, dsy, dy0 = dst_geobox.transform
        shrink_f = abs(dsx) / abs(ssx)
        shrink = max(1, int(round(shrink_f)))
        fx = (dx0 - sx0) / ssx
        fy = (dy0 - sy0) / ssy
        aligned = (
            sgb.crs == dst_geobox.crs
            and abs(dsx - ssx * shrink) < 1e-6 * abs(dsx)
            and abs(dsy - ssy * shrink) < 1e-6 * abs(dsy)
            and abs(fx - round(fx)) < 1e-6
            and abs(fy - round(fy)) < 1e-6
        )
        resampling = cfg.resampling or "nearest"
        if not (aligned and resampling == "nearest"):
            return self._warp(
                src, dst_geobox, resampling, src_dtype, src_nodata, dst_dtype, dst_nodata
            )

        # overlap in world space → dst pixel roi and src window
        sxmin, symin, sxmax, symax = sgb.bbox()
        dxmin, dymin, dxmax, dymax = dst_geobox.bbox()
        xmin, xmax = max(sxmin, dxmin), min(sxmax, dxmax)
        ymin, ymax = max(symin, dymin), min(symax, dymax)
        if xmin >= xmax or ymin >= ymax:
            return None

        dsx, _, dx0, _, dsy, dy0 = dst_geobox.transform
        ry0 = max(0, int(round((ymax - dy0) / dsy)))
        ry1 = min(dst_geobox.height, int(round((ymin - dy0) / dsy)))
        rx0 = max(0, int(round((xmin - dx0) / dsx)))
        rx1 = min(dst_geobox.width, int(round((xmax - dx0) / dsx)))
        if ry0 >= ry1 or rx0 >= rx1:
            return None

        # matching src window (in src full-res pixels)
        wx, wy = dst_geobox.world_of(ry0, rx0)
        ssx, _, sx0, _, ssy, sy0 = sgb.transform
        spy0 = int(round((wy - sy0) / ssy))
        spx0 = int(round((wx - sx0) / ssx))
        # dst pixel step in src pixels (≥1 when dst is coarser)
        step_y = int(round(dsy / ssy))
        step_x = int(round(dsx / ssx))
        n_y, n_x = ry1 - ry0, rx1 - rx0

        raw = self._window(
            src.uri,
            src_nodata,
            src_dtype,
            spy0,
            spy0 + n_y * step_y,
            spx0,
            spx0 + n_x * step_x,
            decimation=step_y,
            use_overviews=cfg.use_overviews,
        )
        raw = raw[:n_y, :n_x]

        # dtype cast with nodata remap (reference loader/_rio.py:350-355).
        # copy=False: a same-dtype cast aliases `raw` (every _window
        # returns a task-private fresh buffer, so the in-place remap
        # below cannot corrupt shared state) — two fewer full-window
        # allocations on the paste hot path, which is memory-bandwidth
        # bound at 32 concurrent workers
        missing = nodata_mask(raw, src_nodata)
        pix = raw.astype(dst_dtype, copy=False)
        if dst_nodata is not None:
            np.copyto(pix, np.asarray(dst_nodata, dtype=dst_dtype), where=missing)
        return ReadResult((ry0, ry1), (rx0, rx1), pix)

    def _warp(
        self,
        src: RasterSource,
        dst_geobox: GeoBox,
        resampling: str,
        src_dtype: str,
        src_nodata: Optional[float],
        dst_dtype: str,
        dst_nodata: Optional[float],
    ) -> Optional[ReadResult]:
        """Warp between arbitrary affine grids (the reference's
        rasterio.warp path, loader/_rio.py:361-369): sub-pixel offsets,
        non-integer scale ratios, up/downsampling — and cross-CRS when
        both ends are WGS84/UTM (functions/proj.py Krüger series; other
        CRS pairs are the pyproj/rasterio slot).

        Resampling semantics (deterministic, mask-aware; the reference
        exposes rasterio's full mode set, loader/_rio.py:327 via
        odc-geo resampling_s2rio — every mode here is an independent
        from-first-principles implementation of the same statistic):

        - ``nearest``  — dst pixel center → containing src pixel;
        - ``bilinear`` — center-based 4-neighbor interpolation; any missing
          or out-of-bounds neighbor with nonzero weight → nodata;
        - ``cubic``    — Keys bicubic convolution (a=-0.5), 4×4 taps; any
          missing/out-of-bounds tap with nonzero weight → nodata;
        - ``cubic_spline`` — cubic B-spline smoothing kernel, 4×4 taps;
        - ``lanczos`` — windowed sinc (a=3), 6×6 taps, normalized by
          kernel mass (the truncated window doesn't partition unity);
        - bin modes (``average  mode  min  max  med  q1  q3  sum  rms
          gauss``) — statistic over the valid src pixels whose centers
          fall inside the dst pixel footprint; empty footprint → nodata:
          mean / most-frequent (tie → smallest) / extrema / linear-interp
          quantiles / sum / sqrt-mean-square / Gaussian-weighted mean
          (σ = half the dst pixel, weights from center distance).

        Integer output is rounded half-to-even (numpy rint).
        """
        if resampling not in RESAMPLING_MODES:
            raise NotImplementedError(
                f"resampling {resampling!r}: supported modes are "
                f"{RESAMPLING_MODES}"
            )
        sgb = src.geobox
        cross = sgb.crs != dst_geobox.crs
        if cross:
            from ..functions import proj
        ssx, _, sx0, _, ssy, sy0 = sgb.transform
        dsx, _, dx0, _, dsy, dy0 = dst_geobox.transform

        # dst ROI covered by the source extent (empty-ROI short-circuit).
        # Cross-CRS: densified src-bbox boundary transformed into dst CRS
        # (the reference densifies footprints the same way before
        # reprojection, model.py:271-299).
        sxmin, symin, sxmax, symax = sgb.bbox()
        if cross:
            t01 = np.linspace(0.0, 1.0, 25)
            edge_x = np.concatenate(
                [
                    sxmin + (sxmax - sxmin) * t01,
                    np.full_like(t01, sxmax),
                    sxmax + (sxmin - sxmax) * t01,
                    np.full_like(t01, sxmin),
                ]
            )
            edge_y = np.concatenate(
                [
                    np.full_like(t01, symin),
                    symin + (symax - symin) * t01,
                    np.full_like(t01, symax),
                    symax + (symin - symax) * t01,
                ]
            )
            tx, ty = proj.transform(edge_x, edge_y, sgb.crs, dst_geobox.crs)
            sxmin, sxmax = float(tx.min()), float(tx.max())
            symin, symax = float(ty.min()), float(ty.max())
        dxmin, dymin, dxmax, dymax = dst_geobox.bbox()
        xmin, xmax = max(sxmin, dxmin), min(sxmax, dxmax)
        ymin, ymax = max(symin, dymin), min(symax, dymax)
        if xmin >= xmax or ymin >= ymax:
            return None
        ry0 = max(0, int(round((ymax - dy0) / dsy)))
        ry1 = min(dst_geobox.height, int(round((ymin - dy0) / dsy)))
        rx0 = max(0, int(round((xmin - dx0) / dsx)))
        rx1 = min(dst_geobox.width, int(round((xmax - dx0) / dsx)))
        if ry0 >= ry1 or rx0 >= rx1:
            return None
        n_y, n_x = ry1 - ry0, rx1 - rx0

        if resampling in _BIN_MODES:
            out = np.full((n_y, n_x), True)  # "missing" mask, filled below
            vals = np.zeros((n_y, n_x), dtype=np.float64)
            # bin src pixel centers into dst cells; vectorized scatter-add.
            # src window bounding the ROI: inverse affine (same CRS) or the
            # densified ROI boundary transformed dst→src (cross-CRS).
            if cross:
                t01 = np.linspace(0.0, 1.0, 25)
                rxmin, rxmax = dx0 + rx0 * dsx, dx0 + rx1 * dsx
                rymin, rymax = dy0 + ry1 * dsy, dy0 + ry0 * dsy
                ex = np.concatenate(
                    [
                        rxmin + (rxmax - rxmin) * t01,
                        np.full_like(t01, rxmax),
                        rxmax + (rxmin - rxmax) * t01,
                        np.full_like(t01, rxmin),
                    ]
                )
                ey = np.concatenate(
                    [
                        np.full_like(t01, rymin),
                        rymin + (rymax - rymin) * t01,
                        np.full_like(t01, rymax),
                        rymax + (rymin - rymax) * t01,
                    ]
                )
                sx_b, sy_b = proj.transform(ex, ey, dst_geobox.crs, sgb.crs)
                fy_b = (sy_b - sy0) / ssy
                fx_b = (sx_b - sx0) / ssx
                iy0 = max(0, int(math.floor(fy_b.min())) - 1)
                iy1 = min(sgb.height, int(math.ceil(fy_b.max())) + 1)
                ix0 = max(0, int(math.floor(fx_b.min())) - 1)
                ix1 = min(sgb.width, int(math.ceil(fx_b.max())) + 1)
            else:
                iy0 = max(0, int(math.floor((dy0 + ry0 * dsy - sy0) / ssy)) - 1)
                iy1 = min(sgb.height, int(math.ceil((dy0 + ry1 * dsy - sy0) / ssy)) + 1)
                ix0 = max(0, int(math.floor((dx0 + rx0 * dsx - sx0) / ssx)) - 1)
                ix1 = min(sgb.width, int(math.ceil((dx0 + rx1 * dsx - sx0) / ssx)) + 1)
            if iy0 >= iy1 or ix0 >= ix1:
                return None
            win = self._window(
                src.uri, src_nodata, src_dtype, iy0, iy1, ix0, ix1
            ).astype(np.float64)
            valid = ~nodata_mask(win, src_nodata)
            scy = sy0 + (np.arange(iy0, iy1) + 0.5) * ssy
            scx = sx0 + (np.arange(ix0, ix1) + 0.5) * ssx
            if cross:
                scx2, scy2 = np.meshgrid(scx, scy)
                wxx, wyy = proj.transform(scx2, scy2, sgb.crs, dst_geobox.crs)
                by = np.floor((wyy - dy0) / dsy).astype(np.int64) - ry0
                bx = np.floor((wxx - dx0) / dsx).astype(np.int64) - rx0
            else:
                by1 = np.floor((scy - dy0) / dsy).astype(np.int64) - ry0
                bx1 = np.floor((scx - dx0) / dsx).astype(np.int64) - rx0
                by = np.broadcast_to(by1[:, None], win.shape)
                bx = np.broadcast_to(bx1[None, :], win.shape)
            sel = (by >= 0) & (by < n_y) & (bx >= 0) & (bx < n_x) & valid
            flat = by.clip(0, n_y - 1) * n_x + bx.clip(0, n_x - 1)
            b = flat[sel]
            v = win[sel]
            n = n_y * n_x
            if resampling in ("average", "sum", "rms"):
                cnts = np.bincount(b, minlength=n)
                filled = cnts > 0
                if resampling == "sum":
                    acc = np.bincount(b, weights=v, minlength=n)
                    vals.ravel()[filled] = acc[filled]
                elif resampling == "rms":
                    acc = np.bincount(b, weights=v * v, minlength=n)
                    vals.ravel()[filled] = np.sqrt(acc[filled] / cnts[filled])
                else:
                    acc = np.bincount(b, weights=v, minlength=n)
                    vals.ravel()[filled] = acc[filled] / cnts[filled]
            elif resampling in ("min", "max"):
                cnts = np.bincount(b, minlength=n)
                filled = cnts > 0
                if resampling == "min":
                    acc = np.full(n, np.inf)
                    np.minimum.at(acc, b, v)
                else:
                    acc = np.full(n, -np.inf)
                    np.maximum.at(acc, b, v)
                vals.ravel()[filled] = acc[filled]
            elif resampling == "gauss":
                # Gaussian-weighted mean: weight each contributing src
                # pixel by its center distance from the dst cell center
                # (dst-CRS units), σ = half a dst pixel per axis
                if cross:
                    pxs, pys = wxx[sel], wyy[sel]
                else:
                    pxs = np.broadcast_to(scx[None, :], win.shape)[sel]
                    pys = np.broadcast_to(scy[:, None], win.shape)[sel]
                ccx = dx0 + ((b % n_x) + rx0 + 0.5) * dsx
                ccy = dy0 + ((b // n_x) + ry0 + 0.5) * dsy
                w = np.exp(
                    -(
                        (pxs - ccx) ** 2 / (2.0 * (dsx / 2.0) ** 2)
                        + (pys - ccy) ** 2 / (2.0 * (dsy / 2.0) ** 2)
                    )
                )
                wsum = np.bincount(b, weights=w, minlength=n)
                vsum = np.bincount(b, weights=w * v, minlength=n)
                filled = wsum > 0
                vals.ravel()[filled] = vsum[filled] / wsum[filled]
            else:  # mode / med / q1 / q3: per-bin order statistics
                res, filled = _segment_reduce(resampling, b, v, n)
                vals.ravel()[filled] = res[filled]
            out = ~filled.reshape(n_y, n_x)
        else:
            # dst pixel centers in fractional src pixel coords — 2-D
            # fields so the same sampling code serves affine (separable,
            # broadcast views: no copy) and cross-CRS (dense transform)
            cy = dy0 + (np.arange(ry0, ry1) + 0.5) * dsy
            cx = dx0 + (np.arange(rx0, rx1) + 0.5) * dsx
            if cross:
                cx2, cy2 = np.meshgrid(cx, cy)
                sxw, syw = proj.transform(cx2, cy2, dst_geobox.crs, sgb.crs)
                FY = (syw - sy0) / ssy
                FX = (sxw - sx0) / ssx
            else:
                FY = np.broadcast_to(((cy - sy0) / ssy)[:, None], (n_y, n_x))
                FX = np.broadcast_to(((cx - sx0) / ssx)[None, :], (n_y, n_x))
            if resampling == "nearest":
                IY = np.floor(FY).astype(np.int64)
                IX = np.floor(FX).astype(np.int64)
                ok = (IY >= 0) & (IY < sgb.height) & (IX >= 0) & (IX < sgb.width)
                if not ok.any():
                    return None
                iy0, iy1 = int(IY[ok].min()), int(IY[ok].max()) + 1
                ix0, ix1 = int(IX[ok].min()), int(IX[ok].max()) + 1
                win = self._window(
                    src.uri, src_nodata, src_dtype, iy0, iy1, ix0, ix1
                ).astype(np.float64)
                samp = win[
                    (IY - iy0).clip(0, iy1 - iy0 - 1), (IX - ix0).clip(0, ix1 - ix0 - 1)
                ]
                miss = nodata_mask(samp, src_nodata) | ~ok
                vals, out = samp, miss
            else:  # separable convolution: bilinear 2×2 / cubic and
                # cubic_spline 4×4 / lanczos 6×6 — center-based, p = f-0.5
                taps = _CONV_TAPS[resampling]
                kern = _CONV_KERNELS[resampling]
                if cross:
                    PY, PX = FY - 0.5, FX - 0.5
                    JY = np.floor(PY).astype(np.int64)
                    JX = np.floor(PX).astype(np.int64)
                    AY = PY - JY
                    AX = PX - JX
                    iy0 = max(0, int(JY.min()) + taps[0])
                    iy1 = min(sgb.height, int(JY.max()) + taps[-1] + 1)
                    ix0 = max(0, int(JX.min()) + taps[0])
                    ix1 = min(sgb.width, int(JX.max()) + taps[-1] + 1)
                else:
                    # affine grid pair: 1-D per-axis indices/weights — the
                    # 2-D fields above are broadcast views, never
                    # materialized
                    py1 = (cy - sy0) / ssy - 0.5
                    px1 = (cx - sx0) / ssx - 0.5
                    jy1 = np.floor(py1).astype(np.int64)
                    jx1 = np.floor(px1).astype(np.int64)
                    iy0 = max(0, int(jy1.min()) + taps[0])
                    iy1 = min(sgb.height, int(jy1.max()) + taps[-1] + 1)
                    ix0 = max(0, int(jx1.min()) + taps[0])
                    ix1 = min(sgb.width, int(jx1.max()) + taps[-1] + 1)
                if iy0 >= iy1 or ix0 >= ix1:
                    return None
                # accumulate in float32 when it is EXACT-ENOUGH: narrow
                # integer source (≤16-bit: values < 2²⁴ are float32-exact)
                # going to an integer destination; float destinations and
                # the cross-CRS path stay float64 (their oracles checksum
                # the full-precision values)
                acc_dt = (
                    np.float32
                    if (
                        not cross
                        and np.dtype(src_dtype).kind in "ui"
                        and np.dtype(src_dtype).itemsize <= 2
                        and np.dtype(dst_dtype).kind in "ui"
                    )
                    else np.float64
                )
                win = self._window(
                    src.uri, src_nodata, src_dtype, iy0, iy1, ix0, ix1
                ).astype(acc_dt)
                winmiss = nodata_mask(win, src_nodata)
                wny, wnx = win.shape

                # a tap only poisons the output if its weight is nonzero
                # (an exactly-aligned axis has weight 0 on the other
                # taps — it must not matter whether those pixels exist)
                if not cross:
                    wys1 = {d: kern(d - (py1 - jy1)).astype(acc_dt) for d in taps}
                    wxs1 = {d: kern(d - (px1 - jx1)).astype(acc_dt) for d in taps}
                    # fully-separable two-stage evaluation: interpolate
                    # along x once for every window row (taps gathers of
                    # the window), then along y (taps gathers of the
                    # intermediate) — O(2·taps) contiguous gathers instead
                    # of O(taps²) 2-D gathers, the hot loop of warp
                    # throughput (BENCH warp_mpx). The miss mask (nodata
                    # holes + out-of-extent taps) propagates through the
                    # SAME two stages: a tap with nonzero weight on a
                    # missing/out-of-window sample poisons exactly its
                    # output pixels (w = wy·wx ≠ 0 ⇔ both ≠ 0), so the
                    # 2-D per-tap-pair mask reduces to two 1-D-indexed OR
                    # sweeps. Values at misses are zero-filled before the
                    # convolution — identical to the per-pair
                    # ``where(m, 0, v)`` modulo float reassociation.
                    any_miss = bool(winmiss.any())
                    if any_miss:
                        win[winmiss] = 0  # win is our astype copy
                    wxnz = {d: np.abs(wxs1[d]) > 1e-12 for d in taps}
                    wynz = {d: np.abs(wys1[d]) > 1e-12 for d in taps}
                    # unit-stride gathers (the 1:1-resolution warp — the
                    # dominant production shape: same-res grids at a
                    # sub-pixel offset) reduce to SLICES: a view instead
                    # of a materialized take halves memory traffic in the
                    # hot loop (BENCH warp_mpx: ~28→40+ Mpx/s/thread on
                    # 512-px tiles). np.multiply(..., out=) reuses one
                    # scratch buffer instead of allocating per tap.
                    contig_x = bool((np.diff(jx1) == 1).all()) if n_x > 1 else True
                    contig_y = bool((np.diff(jy1) == 1).all()) if n_y > 1 else True

                    def _gx(arr, d):
                        # gather window columns for tap d: view when fully
                        # in range; block-copy with edge replication (the
                        # exact clip() semantics) when a contiguous run
                        # merely overhangs the window — both beat a fancy
                        # take; take remains for genuinely strided runs
                        xx0 = int(jx1[0]) + d - ix0
                        if contig_x:
                            if 0 <= xx0 and xx0 + n_x <= wnx:
                                return arr[:, xx0 : xx0 + n_x], None
                            lo, hi = max(0, xx0), min(wnx, xx0 + n_x)
                            if hi > lo:
                                buf = np.empty((arr.shape[0], n_x), arr.dtype)
                                buf[:, lo - xx0 : hi - xx0] = arr[:, lo:hi]
                                if lo - xx0 > 0:
                                    buf[:, : lo - xx0] = arr[:, :1]
                                if xx0 + n_x > hi:
                                    buf[:, hi - xx0 :] = arr[:, wnx - 1 :]
                                xx = jx1 + d - ix0
                                return buf, ((xx < 0) | (xx >= wnx)) & wxnz[d]
                        xx = jx1 + d - ix0
                        oob = ((xx < 0) | (xx >= wnx)) & wxnz[d]
                        return arr.take(xx.clip(0, wnx - 1), axis=1), oob

                    def _gy(arr, d):
                        yy0 = int(jy1[0]) + d - iy0
                        if contig_y:
                            if 0 <= yy0 and yy0 + n_y <= wny:
                                return arr[yy0 : yy0 + n_y], None
                            lo, hi = max(0, yy0), min(wny, yy0 + n_y)
                            if hi > lo:
                                buf = np.empty((n_y,) + arr.shape[1:], arr.dtype)
                                buf[lo - yy0 : hi - yy0] = arr[lo:hi]
                                if lo - yy0 > 0:
                                    buf[: lo - yy0] = arr[:1]
                                if yy0 + n_y > hi:
                                    buf[hi - yy0 :] = arr[wny - 1 :]
                                yy = jy1 + d - iy0
                                return buf, ((yy < 0) | (yy >= wny)) & wynz[d]
                        yy = jy1 + d - iy0
                        oob = ((yy < 0) | (yy >= wny)) & wynz[d]
                        return arr.take(yy.clip(0, wny - 1), axis=0), oob

                    tmp = np.zeros((wny, n_x), dtype=acc_dt)
                    scratch = np.empty((wny, n_x), dtype=acc_dt)
                    mx = np.zeros((wny, n_x), dtype=bool) if any_miss else None
                    out_x = np.zeros(n_x, dtype=bool)
                    for d in taps:
                        g, oob = _gx(win, d)
                        if oob is not None:
                            out_x |= oob
                        np.multiply(g, wxs1[d][None, :], out=scratch)
                        tmp += scratch
                        if any_miss:
                            mx |= _gx(winmiss, d)[0] & wxnz[d][None, :]
                    vals = np.zeros((n_y, n_x), dtype=acc_dt)
                    scratch_y = np.empty((n_y, n_x), dtype=acc_dt)
                    out = np.zeros((n_y, n_x), dtype=bool)
                    out_y = np.zeros(n_y, dtype=bool)
                    for d in taps:
                        g, oob = _gy(tmp, d)
                        if oob is not None:
                            out_y |= oob
                        np.multiply(g, wys1[d][:, None], out=scratch_y)
                        vals += scratch_y
                        if any_miss:
                            out |= _gy(mx, d)[0] & wynz[d][:, None]
                    out |= out_y[:, None]
                    out |= out_x[None, :]
                    if resampling == "lanczos":
                        # kernel mass is separable: Σwy·Σwx
                        vals /= (
                            sum(wys1.values())[:, None]
                            * sum(wxs1.values())[None, :]
                        )
                else:
                    def gather(dy_, dx_):
                        yy = JY + dy_ - iy0
                        xx = JX + dx_ - ix0
                        # window is the src grid clipped to the tap range,
                        # so out-of-window ⇔ out-of-src-extent
                        okk = (yy >= 0) & (yy < wny) & (xx >= 0) & (xx < wnx)
                        yc = yy.clip(0, wny - 1)
                        xc = xx.clip(0, wnx - 1)
                        return win[yc, xc], winmiss[yc, xc] | ~okk

                    vals = np.zeros((n_y, n_x), dtype=np.float64)
                    out = np.zeros((n_y, n_x), dtype=bool)
                    wtot = np.zeros((n_y, n_x), dtype=np.float64)
                    wys = {dy_: kern(dy_ - AY) for dy_ in taps}
                    wxs = {dx_: kern(dx_ - AX) for dx_ in taps}
                    for dy_ in taps:
                        for dx_ in taps:
                            w = wys[dy_] * wxs[dx_]
                            v, m = gather(dy_, dx_)
                            vals += np.where(m, 0.0, v) * w
                            wtot += w
                            out |= m & (np.abs(w) > 1e-12)
                    if resampling == "lanczos":
                        # the truncated sinc window doesn't partition
                        # unity (tent/Keys/B-spline do) — normalize by
                        # kernel mass
                        vals /= wtot

        # in-place round + masked fill: `vals` is task-private in every
        # path (fresh accumulator / fancy-index result) and `pix` is the
        # astype copy, so neither write can corrupt shared state — two
        # fewer full-tile allocations on the bandwidth-bound warp tail
        if np.issubdtype(np.dtype(dst_dtype), np.integer):
            np.rint(vals, out=vals)
        pix = vals.astype(dst_dtype)
        if dst_nodata is not None:
            np.copyto(pix, np.asarray(dst_nodata, dtype=dst_dtype), where=out)
        elif out.any():
            # no explicit nodata: NaN for float dst, 0 for int dst —
            # the reference's empty-fill rule (loader/_builder.py:188-194,
            # resolve_dst_nodata loader/_reader.py:84-101)
            fill = 0 if np.issubdtype(np.dtype(dst_dtype), np.integer) else np.nan
            np.copyto(pix, np.asarray(fill, dtype=dst_dtype), where=out)
        return ReadResult((ry0, ry1), (rx0, rx1), pix)


class RioReader:
    """GDAL/rasterio reader slot — requires rasterio (absent here).

    Remote COG/JP2/netCDF/HDF5 URIs (http(s)://, s3://) are served
    NATIVELY by TiffReader/Jp2Reader/NcReader through the ranged-IO
    layer (sources/rangeio.py — retrying byte-range GETs, creds from
    sources/aws.py), so this slot now only matters for formats the
    in-house codecs refuse (reference driver: loader/_rio.py:374-475);
    dropping rasterio into the image fills it with no engine change."""

    def read(self, src, cfg, dst_geobox):  # pragma: no cover - env lacks rasterio
        raise NotImplementedError(
            "RioReader needs rasterio, which is not installed in this "
            "environment; use synth:// sources or install rasterio"
        )


class TiffReader(SynthReader):
    """Real GeoTIFF/COG file driver over the in-house TIFF codec
    (sources/geotiff.py) — inherits the format-agnostic paste/warp/ROI
    planning from SynthReader and overrides only the window fetch (S8:
    "open COG/GeoTIFF by URI, read window/overview", loader/_rio.py
    rio_read equivalent for the uncompressed-COG subset).

    - only the HEADER is cached per executor process in ``_ENV`` (the
      session-reuse pattern of the reference's thread-local GDAL env,
      loader/_rio.py:126-176); pixel bytes are fetched per intersecting
      tile via byte-range reads (geotiff.read_cog_tile) — executor memory
      is bounded by the requested window, never the file size, exactly
      how a COG is meant to be consumed over object storage.
    - decimated reads use a reduced-resolution overview IFD when one
      matches the decimation and the window is aligned to it — real
      overview pushdown on a real format (counted in
      ``_ENV['tif_overview_reads']`` so tests can assert the path).
    - windows clipped to the file extent are padded with source nodata.
    - GeoTIFF has no subdataset concept — a source carrying one is a
      catalog error and raises (netcdf/hdf5 containers go to
      :class:`odc_stac_spark.sources.netcdf.NcReader`).
    """

    def _resolve_subdataset(self, src: RasterSource) -> RasterSource:
        raise NotImplementedError(
            f"{src.uri}: GeoTIFF sources have no subdatasets "
            f"(got subdataset={src.subdataset!r}; netcdf/hdf5 only)"
        )

    @staticmethod
    def _path(uri: str) -> str:
        u = urlparse(uri)
        return u.path if u.scheme in ("file", "") else uri

    def _header(self, uri: str) -> dict:
        cache = _ENV.setdefault("tif_headers", {})
        if uri not in cache:
            from .geotiff import read_cog_header

            cache[uri] = read_cog_header(self._path(uri))
        return cache[uri]

    def read(self, src, cfg, dst_geobox):
        # multi-band (SamplesPerPixel>1) files address one band per
        # RasterSource via the 1-based ``band`` field (reference
        # loader/types.py band index); stashed for the window fetch below
        # (reader instances are per-task, single-threaded)
        self._band = src.band
        return super().read(src, cfg, dst_geobox)

    def _assemble(
        self, uri: str, level: int, py0: int, py1: int, px0: int, px1: int, fill
    ) -> np.ndarray:
        """Window [py0,py1)×[px0,px1) at the given level from per-tile
        range reads; out-of-extent regions filled."""
        from .geotiff import read_cog_tile

        hdr = self._header(uri)
        lv = hdr["levels"][level]
        th, tw = lv["tile_h"], lv["tile_w"]
        ny, nx = lv["ny"], lv["nx"]
        ntx = (nx + tw - 1) // tw
        nty = (ny + th - 1) // th
        out = np.full((py1 - py0, px1 - px0), fill, dtype=np.dtype(lv["dtype"]))
        ty0 = max(0, py0 // th)
        ty1 = min(nty, (min(py1, ny) + th - 1) // th)
        tx0 = max(0, px0 // tw)
        tx1 = min(ntx, (min(px1, nx) + tw - 1) // tw)
        sample = max(0, getattr(self, "_band", 1) - 1) if lv.get("spp", 1) > 1 else None
        for ty in range(ty0, ty1):
            for tx in range(tx0, tx1):
                tile = read_cog_tile(
                    self._path(uri), hdr, level, ty * ntx + tx, sample=sample
                )
                # valid (non-padding) extent of this tile, then intersect
                # with the requested window
                vy0, vx0 = ty * th, tx * tw
                vy1, vx1 = min(vy0 + th, ny), min(vx0 + tw, nx)
                iy0, iy1 = max(vy0, py0), min(vy1, py1)
                ix0, ix1 = max(vx0, px0), min(vx1, px1)
                if iy0 >= iy1 or ix0 >= ix1:
                    continue
                out[iy0 - py0 : iy1 - py0, ix0 - px0 : ix1 - px0] = tile[
                    iy0 - vy0 : iy1 - vy0, ix0 - vx0 : ix1 - vx0
                ]
        return out

    def _window(
        self,
        uri: str,
        src_nodata: Optional[float],
        dtype: str,
        py0: int,
        py1: int,
        px0: int,
        px1: int,
        decimation: int = 1,
        use_overviews: bool = True,
    ) -> np.ndarray:
        hdr = self._header(uri)
        full_ny = hdr["levels"][0]["ny"]
        fill = src_nodata if src_nodata is not None else (hdr["nodata"] or 0)
        step, level = decimation, 0
        if (
            use_overviews
            and decimation > 1
            and py0 % decimation == 0
            and px0 % decimation == 0
        ):
            for li, lv in enumerate(hdr["levels"][1:], start=1):
                if int(round(full_ny / lv["ny"])) == decimation:
                    span_y, span_x = py1 - py0, px1 - px0
                    py0, px0 = py0 // decimation, px0 // decimation
                    py1 = py0 + (span_y + decimation - 1) // decimation
                    px1 = px0 + (span_x + decimation - 1) // decimation
                    level, step = li, 1
                    _ENV["tif_overview_reads"] = _ENV.get("tif_overview_reads", 0) + 1
                    break
        win = self._assemble(uri, level, py0, py1, px0, px1, fill)
        if step > 1:
            win = win[::step, ::step]
        return win.astype(dtype, copy=False)


class Jp2Reader(SynthReader):
    """JPEG2000 file driver over the in-house Part-1 codec
    (operators/jp2.py) — the Sentinel-2 SAFE / JP2-COG format the
    reference reads via GDAL's JP2OpenJPEG driver (loader/_rio.py).
    Inherits SynthReader's paste/warp/ROI planning; only the window
    fetch differs:

    - header scan (marker walk, tile spans located via Psot — tile
      bodies never read) is cached per executor process in ``_ENV``;
    - a window decodes ONLY the intersecting JP2 tiles, each fetched by
      byte-range read — executor memory follows the request;
    - decimated reads use JPEG2000's native resolution scalability when
      the decimation is a power of two ≤ 2^levels: with LRCP ordering,
      packets above the needed resolution are never parsed (counted in
      ``_ENV['jp2_reduced_reads']`` so tests can assert the pushdown).
    """

    def _resolve_subdataset(self, src: RasterSource) -> RasterSource:
        raise NotImplementedError(
            f"{src.uri}: JPEG2000 sources have no subdatasets "
            f"(got subdataset={src.subdataset!r}; netcdf/hdf5 only)"
        )

    @staticmethod
    def _path(uri: str) -> str:
        u = urlparse(uri)
        return u.path if u.scheme in ("file", "") else uri

    def _header(self, uri: str) -> dict:
        cache = _ENV.setdefault("jp2_headers", {})
        if uri not in cache:
            from ..operators.jp2 import read_jp2_header

            cache[uri] = read_jp2_header(self._path(uri))
        return cache[uri]

    def read(self, src, cfg, dst_geobox):
        self._band = src.band  # 1-based component index for multi-comp files
        return super().read(src, cfg, dst_geobox)

    def _window(
        self,
        uri: str,
        src_nodata,
        dtype: str,
        py0: int,
        py1: int,
        px0: int,
        px1: int,
        decimation: int = 1,
        use_overviews: bool = True,
    ) -> np.ndarray:
        from ..operators.jp2 import _tile_geometry, read_jp2_tile

        hdr = self._header(uri)
        ys, xs = hdr["ys"], hdr["xs"]
        comp = max(0, getattr(self, "_band", 1) - 1)
        fill = src_nodata if src_nodata is not None else 0
        # native resolution pushdown: decimation 2^k ≤ 2^levels
        step, max_res = decimation, None
        if use_overviews and decimation > 1 and decimation & (decimation - 1) == 0:
            k = decimation.bit_length() - 1
            if k <= hdr["levels"] and py0 % decimation == 0 and px0 % decimation == 0:
                max_res = hdr["levels"] - k
                _ENV["jp2_reduced_reads"] = _ENV.get("jp2_reduced_reads", 0) + 1
        if max_res is not None:
            k = decimation
            oy0, ox0 = py0 // k, px0 // k
            oy1 = oy0 + ((py1 - py0) + k - 1) // k
            ox1 = ox0 + ((px1 - px0) + k - 1) // k
            out = np.full((oy1 - oy0, ox1 - ox0), fill, np.dtype(hdr["dtype"]))
            for isot, _ in hdr["tiles"]:
                ty0, tx0, th, tw = _tile_geometry(hdr, isot)
                # tile extent in reduced coordinates (tiles decimate
                # independently: ceil splits per tile)
                rty0, rtx0 = ty0 // k, tx0 // k
                rth, rtw = (th + k - 1) // k, (tw + k - 1) // k
                iy0, iy1 = max(rty0, oy0), min(rty0 + rth, oy1)
                ix0, ix1 = max(rtx0, ox0), min(rtx0 + rtw, ox1)
                if iy0 >= iy1 or ix0 >= ix1:
                    continue
                t = read_jp2_tile(self._path(uri), hdr, isot, max_res=max_res)
                out[iy0 - oy0 : iy1 - oy0, ix0 - ox0 : ix1 - ox0] = t[
                    iy0 - rty0 : iy1 - rty0, ix0 - rtx0 : ix1 - rtx0, comp
                ]
            return out.astype(dtype, copy=False)
        out = np.full((py1 - py0, px1 - px0), fill, np.dtype(hdr["dtype"]))
        for isot, _ in hdr["tiles"]:
            ty0, tx0, th, tw = _tile_geometry(hdr, isot)
            iy0, iy1 = max(ty0, py0), min(ty0 + th, min(py1, ys))
            ix0, ix1 = max(tx0, px0), min(tx0 + tw, min(px1, xs))
            if iy0 >= iy1 or ix0 >= ix1:
                continue
            t = read_jp2_tile(self._path(uri), hdr, isot)
            out[iy0 - py0 : iy1 - py0, ix0 - px0 : ix1 - px0] = t[
                iy0 - ty0 : iy1 - ty0, ix0 - tx0 : ix1 - tx0, comp
            ]
        win = out
        if step > 1 and max_res is None:
            win = win[::step, ::step]
        return win.astype(dtype, copy=False)


def reader_for(uri: str):
    """Reader-driver dispatch (reference loader/_driver.py:12-16)."""
    if uri.startswith("synth://"):
        return SynthReader()
    path = uri.split("?")[0].split("#")[0].lower()
    if path.endswith((".tif", ".tiff")):
        return TiffReader()
    if path.endswith((".jp2", ".j2k", ".jpx", ".jpc")):
        return Jp2Reader()
    if path.endswith((".nc", ".h5", ".hdf", ".hdf5")):
        # NcReader serves classic CDF-1/2/5 AND netCDF-4/HDF5 containers —
        # read_netcdf_header sniffs the magic and dispatches to the
        # in-house HDF5 reader (sources/hdf5.py) for the latter
        from .netcdf import NcReader

        return NcReader()
    return RioReader()
