"""NetCDF classic (CDF-1/CDF-2/CDF-5) codec + reader driver — pure numpy/stdlib.

The reference reads netCDF/HDF5 subdataset containers through GDAL/xarray
(reference loader/types.py:52-53 subdataset addressing; odc/loader RIO
driver). This module implements the *netCDF classic* on-disk format from
the public spec (Unidata "NetCDF Classic Format Specification", also
ESDS-RFC-011) so the engine's reader protocol (``NcReader``) serves real
``.nc`` files with no native library:

- **writer**: CDF-1, CDF-2 (64-bit offsets) or CDF-5 (64-bit sizes +
  native unsigned/int64 types), fixed-size variables, all classic types,
  dimension/variable/global attributes, proper 4-byte alignment and
  big-endian encoding.
- **reader**: header parse + windowed variable reads. Reads are
  byte-ranged: a (y, x) window fetches only the intersecting rows'
  contiguous runs (one ``seek`` per needed row), never the whole
  variable — the same executor-memory discipline as the COG tile reader,
  which is what makes the driver safe under a 100 TB catalog.
- **``NcReader``**: plugs the codec into the format-agnostic
  paste/warp/overview planner (SynthReader.read), dispatched by
  ``reader_for`` for ``*.nc`` URIs. Subdataset = variable name, carried
  as a URI fragment (``file.nc#red``); 3-D variables address a leading
  index with ``var:k``.

HDF5-backed netCDF-4 is served natively too: the magic is sniffed and the
header/var reads dispatch to the in-house HDF5 reader (sources/hdf5.py —
superblock v0-v3, v1/v2 object headers, chunked layout via the v1 B-tree
index, deflate/shuffle filters, windowed chunk reads), returning the same
header-dict shape so ``NcReader`` works on both container formats.

Scale notes: header parse is cached per executor process (``_ENV``), the
row-run reads are proportional to the requested window, and decimated
reads fetch only every ``decimation``-th row. netCDF classic has no
overviews, so decimation subsamples at read time (the planner's overview
pushdown simply finds no reduced level).
"""

from __future__ import annotations

import struct
from typing import Dict, Optional, Tuple

import numpy as np

NC_BYTE, NC_CHAR, NC_SHORT, NC_INT, NC_FLOAT, NC_DOUBLE = 1, 2, 3, 4, 5, 6
# CDF-5 additions (NetCDF 64-bit data format specification)
NC_UBYTE, NC_USHORT, NC_UINT, NC_INT64, NC_UINT64 = 7, 8, 9, 10, 11
_NC_DTYPES = {
    NC_BYTE: np.dtype(">i1"),
    NC_CHAR: np.dtype("S1"),
    NC_SHORT: np.dtype(">i2"),
    NC_INT: np.dtype(">i4"),
    NC_FLOAT: np.dtype(">f4"),
    NC_DOUBLE: np.dtype(">f8"),
    NC_UBYTE: np.dtype(">u1"),
    NC_USHORT: np.dtype(">u2"),
    NC_UINT: np.dtype(">u4"),
    NC_INT64: np.dtype(">i8"),
    NC_UINT64: np.dtype(">u8"),
}
_CODE_FOR_KIND = {("i", 1): NC_BYTE, ("i", 2): NC_SHORT, ("i", 4): NC_INT,
                  ("u", 1): NC_BYTE, ("u", 2): NC_SHORT, ("u", 4): NC_INT,
                  ("f", 4): NC_FLOAT, ("f", 8): NC_DOUBLE}
# CDF-5 has native unsigned + 64-bit integer types
_CODE_FOR_KIND_V5 = {("i", 1): NC_BYTE, ("i", 2): NC_SHORT, ("i", 4): NC_INT,
                     ("i", 8): NC_INT64,
                     ("u", 1): NC_UBYTE, ("u", 2): NC_USHORT, ("u", 4): NC_UINT,
                     ("u", 8): NC_UINT64,
                     ("f", 4): NC_FLOAT, ("f", 8): NC_DOUBLE}
_V5_ONLY_CODES = {NC_UBYTE, NC_USHORT, NC_UINT, NC_INT64, NC_UINT64}
_TAG_DIM, _TAG_VAR, _TAG_ATT = 0x0A, 0x0B, 0x0C


def _pad4(n: int) -> int:
    return (n + 3) & ~3


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


def _nn(n: int, version: int) -> bytes:
    """NON_NEG: 4 bytes in CDF-1/2, 8 in CDF-5."""
    return struct.pack(">Q" if version == 5 else ">I", n)


def _enc_name(name: str, version: int = 1) -> bytes:
    b = name.encode("utf-8")
    return _nn(len(b), version) + b + b"\x00" * (_pad4(len(b)) - len(b))


def _attr_payload(value) -> Tuple[int, bytes, int]:
    """attribute value → (nc_type, packed bytes, nelems)."""
    if isinstance(value, str):
        value = value.encode("utf-8")
    if isinstance(value, (bytes, bytearray)):
        b = bytes(value)
        return NC_CHAR, b + b"\x00" * (_pad4(len(b)) - len(b)), len(b)
    arr = np.atleast_1d(np.asarray(value))
    if arr.dtype.kind == "i" and arr.dtype.itemsize > 4:
        if np.abs(arr).max(initial=0) < 2**31:
            arr = arr.astype(np.int32)
        else:
            arr = arr.astype(np.float64)  # classic has no 64-bit int
    code = _CODE_FOR_KIND.get((arr.dtype.kind, arr.dtype.itemsize))
    if code is None:
        arr = arr.astype(np.float64)
        code = NC_DOUBLE
    b = arr.astype(_NC_DTYPES[code]).tobytes()
    return code, b + b"\x00" * (_pad4(len(b)) - len(b)), arr.size


def _enc_attrs(attrs: Optional[dict], version: int = 1) -> bytes:
    if not attrs:
        return struct.pack(">I", 0) + _nn(0, version)  # ABSENT
    out = struct.pack(">I", _TAG_ATT) + _nn(len(attrs), version)
    for k, v in attrs.items():
        code, payload, nelems = _attr_payload(v)
        out += _enc_name(k, version) + struct.pack(">I", code) + _nn(nelems, version) + payload
    return out


def write_netcdf(
    path: str,
    dims: Dict[str, int],
    variables: Dict[str, Tuple[Tuple[str, ...], np.ndarray]],
    global_attrs: Optional[dict] = None,
    var_attrs: Optional[Dict[str, dict]] = None,
    version: int = 2,
) -> None:
    """Write a classic netCDF file of fixed-size variables.

    ``variables[name] = (dim_names, array)``; array shape must match the
    named dimensions. ``version`` 1 (CDF-1, 32-bit offsets), 2 (CDF-2,
    64-bit offsets — the safe default for >2 GiB layouts) or 5 (CDF-5,
    64-bit sizes + native unsigned/int64 types)."""
    if version not in (1, 2, 5):
        raise ValueError("classic netCDF version must be 1, 2 or 5")
    var_attrs = var_attrs or {}
    dim_ids = {name: i for i, name in enumerate(dims)}
    code_map = _CODE_FOR_KIND_V5 if version == 5 else _CODE_FOR_KIND
    norm = {}
    for name, (vdims, arr) in variables.items():
        arr = np.asarray(arr)
        shape = tuple(dims[d] for d in vdims)
        if arr.shape != shape:
            raise ValueError(f"variable {name}: shape {arr.shape} != dims {vdims} {shape}")
        if any(dims[d] == 0 for d in vdims):
            raise NotImplementedError("record (unlimited) dimensions: writer is fixed-size only")
        code = code_map.get((arr.dtype.kind, arr.dtype.itemsize))
        if code is None:
            raise ValueError(f"variable {name}: dtype {arr.dtype} not representable in classic netCDF")
        if arr.dtype.kind == "u" and version != 5:
            # CDF-1/2 have no unsigned types: store the same bytes as the
            # signed twin and mark with the standard _Unsigned convention
            var_attrs = {**var_attrs}
            var_attrs[name] = {**var_attrs.get(name, {}), "_Unsigned": "true"}
        norm[name] = (vdims, arr, code)

    off_fmt = ">I" if version == 1 else ">Q"

    def var_entry(name, vdims, code, vsize, begin):
        e = _enc_name(name, version) + _nn(len(vdims), version)
        for d in vdims:
            e += struct.pack(">I", dim_ids[d])
        e += _enc_attrs(var_attrs.get(name), version)
        e += struct.pack(">I", code) + _nn(vsize, version) + struct.pack(off_fmt, begin)
        return e

    # pass 1: compute header size with placeholder begins
    def header_bytes(begins: Dict[str, int]) -> bytes:
        h = b"CDF" + bytes([version])
        h += struct.pack(">Q", 0) if version == 5 else struct.pack(">I", 0)  # numrecs
        if dims:
            h += struct.pack(">I", _TAG_DIM) + _nn(len(dims), version)
            for dname, dlen in dims.items():
                h += _enc_name(dname, version) + _nn(dlen, version)
        else:
            h += struct.pack(">I", 0) + _nn(0, version)
        h += _enc_attrs(global_attrs, version)
        if norm:
            h += struct.pack(">I", _TAG_VAR) + _nn(len(norm), version)
            for name, (vdims, arr, code) in norm.items():
                vsize = _pad4(arr.size * _NC_DTYPES[code].itemsize)
                h += var_entry(name, vdims, code, vsize, begins.get(name, 0))
        else:
            h += struct.pack(">I", 0) + _nn(0, version)
        return h

    hlen = len(header_bytes({}))
    begins, cur = {}, _pad4(hlen)
    for name, (vdims, arr, code) in norm.items():
        begins[name] = cur
        cur += _pad4(arr.size * _NC_DTYPES[code].itemsize)
    if version == 1 and cur >= 2**31:
        raise ValueError("file exceeds CDF-1 32-bit offsets; use version=2")

    with open(path, "wb") as f:
        hdr = header_bytes(begins)
        f.write(hdr)
        f.write(b"\x00" * (_pad4(hlen) - hlen))
        for name, (vdims, arr, code) in norm.items():
            assert f.tell() == begins[name]
            raw = np.ascontiguousarray(arr).astype(_NC_DTYPES[code]).tobytes()
            f.write(raw)
            f.write(b"\x00" * (_pad4(len(raw)) - len(raw)))


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


class _Cursor:
    def __init__(self, buf: bytes, version: int = 1):
        self.buf, self.pos = buf, 0
        self.version = version

    def take(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        if len(b) != n:
            raise ValueError("netCDF: truncated header")
        self.pos += n
        return b

    def u32(self) -> int:
        return struct.unpack(">I", self.take(4))[0]

    def u64(self) -> int:
        return struct.unpack(">Q", self.take(8))[0]

    def nn(self) -> int:
        """NON_NEG: counts/lengths are 4 bytes in CDF-1/2, 8 in CDF-5."""
        return self.u64() if self.version == 5 else self.u32()

    def name(self) -> str:
        n = self.nn()
        s = self.take(n).decode("utf-8")
        self.take(_pad4(n) - n)
        return s


def _parse_attrs(c: _Cursor) -> dict:
    tag, nelems = c.u32(), c.nn()
    if tag == 0 and nelems == 0:
        return {}
    if tag != _TAG_ATT:
        raise ValueError(f"netCDF: expected NC_ATTRIBUTE tag, got {tag:#x}")
    out = {}
    for _ in range(nelems):
        k = c.name()
        code, n = c.u32(), c.nn()
        dt = _NC_DTYPES.get(code)
        if dt is None:
            raise ValueError(f"netCDF: unknown attribute type {code}")
        raw = c.take(_pad4(n * dt.itemsize))[: n * dt.itemsize]
        if code == NC_CHAR:
            out[k] = raw.decode("utf-8", "replace")
        else:
            vals = np.frombuffer(raw, dt)
            out[k] = vals[0].item() if n == 1 else vals.astype(dt.newbyteorder("=")).tolist()
    return out


def read_netcdf_header(path: str) -> dict:
    """Parse the classic header (reads at most the header bytes + slack).
    ``path`` may be a local path or any rangeio URL (http(s)/s3)."""
    from .rangeio import range_open

    with range_open(path) as f:
        probe = f.read(8192)
        if probe[:8] == b"\x89HDF\r\n\x1a\n":
            # netCDF-4: dispatch to the in-house HDF5 reader (sources/hdf5.py)
            # — same header-dict shape, so NcReader and read_netcdf_var work
            # on classic and HDF5-backed files alike
            from .hdf5 import read_hdf5_header

            return read_hdf5_header(path)
        if probe[:3] != b"CDF":
            raise ValueError(f"{path}: not a netCDF classic file")
        version = probe[3]
        if version not in (1, 2, 5):
            raise NotImplementedError(f"netCDF: CDF-{version} not supported (1/2/5 only)")
        # headers are small; grow the probe until parse fits
        buf = probe
        while True:
            try:
                return _parse_header(buf, version)
            except ValueError as e:
                if "truncated header" not in str(e):
                    raise
                more = f.read(len(buf))
                if not more:
                    raise
                buf += more


def _parse_header(buf: bytes, version: int) -> dict:
    c = _Cursor(buf, version)
    c.take(4)
    numrecs = c.u64() if version == 5 else c.u32()
    tag, nd = c.u32(), c.nn()
    dims = []
    if tag == _TAG_DIM:
        dims = [(c.name(), c.nn()) for _ in range(nd)]
    elif (tag, nd) != (0, 0):
        raise ValueError("netCDF: bad dim_list tag")
    gattrs = _parse_attrs(c)
    tag, nv = c.u32(), c.nn()
    variables = {}
    rec_vars = []
    if tag == _TAG_VAR:
        for _ in range(nv):
            name = c.name()
            ndims = c.nn()
            dimids = [c.u32() for _ in range(ndims)]
            attrs = _parse_attrs(c)
            code, vsize = c.u32(), c.nn()
            begin = c.u32() if version == 1 else c.u64()
            vdims = [dims[i][0] for i in dimids]
            shape = tuple(dims[i][1] for i in dimids)
            record = bool(shape) and shape[0] == 0
            dt = _NC_DTYPES.get(code)
            if dt is None:
                raise ValueError(f"netCDF: unknown variable type {code}")
            if str(attrs.get("_Unsigned", "")).lower() == "true" and dt.kind == "i":
                dt = np.dtype(f">u{dt.itemsize}")
            variables[name] = {
                "dims": vdims,
                "shape": (numrecs,) + shape[1:] if record else shape,
                "dtype": dt,
                "attrs": attrs,
                "begin": begin,
                "vsize": vsize,
                "record": record,
            }
            if record:
                rec_vars.append(name)
    elif (tag, nv) != (0, 0):
        raise ValueError("netCDF: bad var_list tag")
    recsize = sum(variables[n]["vsize"] for n in rec_vars)
    if len(rec_vars) == 1:  # spec: single record var is NOT padded
        v = variables[rec_vars[0]]
        recsize = int(np.prod(v["shape"][1:], dtype=np.int64)) * v["dtype"].itemsize
    return {
        "version": version,
        "numrecs": numrecs,
        "dims": dict(dims),
        "gattrs": gattrs,
        "vars": variables,
        "recsize": recsize,
    }


def read_netcdf_var(path: str, hdr: dict, name: str, sel: Optional[tuple] = None) -> np.ndarray:
    """Read a variable (optionally sliced per-dimension with a tuple of
    ``slice``/int) using contiguous inner-run byte-range reads."""
    if hdr.get("format") == "hdf5":  # netCDF-4 container
        from .hdf5 import read_hdf5_var

        return read_hdf5_var(path, hdr, name, sel)
    v = hdr["vars"][name]
    shape, dt = v["shape"], v["dtype"]
    sel = tuple(sel) if sel is not None else ()
    sel = sel + (slice(None),) * (len(shape) - len(sel))
    idx = []
    out_shape = []
    for s, n in zip(sel, shape):
        if isinstance(s, int):
            rng = range(s, s + 1)
            idx.append(rng)
        else:
            rng = range(*s.indices(n))
            idx.append(rng)
            out_shape.append(len(rng))
    out = np.empty([len(r) for r in idx], dtype=dt.newbyteorder("="))
    item = dt.itemsize
    # per-dim strides in ITEMS, relative to the variable/record-slab start;
    # a record variable's dim 0 strides by recsize BYTES between records.
    strides = [1] * len(shape)
    for i in range(len(shape) - 2, -1, -1):
        strides[i] = strides[i + 1] * shape[i + 1]

    def offset(src_idx: tuple) -> int:
        off = v["begin"]
        for d, s in enumerate(src_idx):
            if d == 0 and v["record"]:
                off += s * hdr["recsize"]
            else:
                off += s * strides[d] * item
        return off

    import itertools

    from .rangeio import range_open

    with range_open(path) as f:
        if not len(shape):  # scalar variable
            f.seek(v["begin"])
            return np.frombuffer(f.read(item), dt)[0]
        inner = idx[-1]
        for outer in itertools.product(*[list(enumerate(r)) for r in idx[:-1]]):
            pos_out = tuple(o[0] for o in outer)
            src = tuple(o[1] for o in outer)
            if len(inner) == 0:
                continue
            f.seek(offset(src + (inner.start,)))
            if inner.step == 1:
                out[pos_out] = np.frombuffer(f.read(len(inner) * item), dt, count=len(inner))
            else:
                span = inner[-1] - inner.start + 1
                run = np.frombuffer(f.read(span * item), dt, count=span)
                out[pos_out] = run[:: inner.step]
    return out.reshape(out_shape)


# ---------------------------------------------------------------------------
# geospatial convention (GDAL netCDF layout: spatial_ref + GeoTransform)
# ---------------------------------------------------------------------------


def write_geo_netcdf(
    path: str,
    bands: Dict[str, np.ndarray],
    geobox,
    nodata: Optional[float] = None,
    version: int = 2,
) -> None:
    """Write 2-D bands on a GeoBox as a CF/GDAL-style classic netCDF:
    ``y``/``x`` coordinate variables at pixel centers, a ``spatial_ref``
    grid-mapping scalar carrying the CRS and GDAL ``GeoTransform`` attrs,
    and per-band ``_FillValue``/``grid_mapping`` attributes (the public
    GDAL netCDF driver convention, so external CF readers georeference it)."""
    ny, nx = geobox.shape
    a, b, c, d, e, f_ = geobox.transform[:6]
    ys = d * (np.arange(ny) + 0.5) + e * 0.5 + f_
    xs = a * (np.arange(nx) + 0.5) + b * 0.5 + c
    dims = {"y": ny, "x": nx}
    variables: Dict[str, Tuple[Tuple[str, ...], np.ndarray]] = {
        "y": (("y",), ys.astype(np.float64)),
        "x": (("x",), xs.astype(np.float64)),
        "spatial_ref": ((), np.zeros((), np.int32)),
    }
    var_attrs: Dict[str, dict] = {
        "y": {"standard_name": "projection_y_coordinate", "units": "m"},
        "x": {"standard_name": "projection_x_coordinate", "units": "m"},
        "spatial_ref": {
            "spatial_ref": str(geobox.crs),
            "crs_wkt": str(geobox.crs),
            "GeoTransform": f"{c} {a} {b} {f_} {d} {e}",
        },
    }
    for name, arr in bands.items():
        if arr.shape != (ny, nx):
            raise ValueError(f"band {name}: shape {arr.shape} != geobox {geobox.shape}")
        variables[name] = (("y", "x"), arr)
        va = {"grid_mapping": "spatial_ref"}
        if nodata is not None:
            va["_FillValue"] = np.asarray(nodata, dtype=arr.dtype)
        var_attrs[name] = va
    write_netcdf(
        path, dims, variables, global_attrs={"Conventions": "CF-1.8"},
        var_attrs=var_attrs, version=version,
    )


def data_vars(hdr: dict) -> list:
    """Names of 2-D+ data variables (excludes coordinate/grid-mapping vars)."""
    return [
        n for n, v in hdr["vars"].items()
        if len(v["shape"]) >= 2 and n not in hdr["dims"]
    ]


def read_geo_netcdf(path: str):
    """(bands dict, transform tuple, crs str, nodata dict) — test/validation
    helper; the Spark path reads windows through NcReader instead."""
    hdr = read_netcdf_header(path)
    sr = hdr["vars"].get("spatial_ref", {}).get("attrs", {})
    crs = sr.get("spatial_ref")
    gt = sr.get("GeoTransform")
    transform = None
    if gt:
        c, a, b, f_, d, e = (float(t) for t in gt.split())
        transform = (a, b, c, d, e, f_)
    bands = {n: read_netcdf_var(path, hdr, n) for n in data_vars(hdr)}
    nodata = {
        n: hdr["vars"][n]["attrs"].get("_FillValue") for n in bands
    }
    return bands, transform, crs, nodata


# ---------------------------------------------------------------------------
# reader driver
# ---------------------------------------------------------------------------


def _split_fragment(uri: str) -> Tuple[str, Optional[str], Optional[int]]:
    """``/p/f.nc#var:3`` → (path, "var", 3); no fragment → (path, None, None)."""
    from urllib.parse import urlparse

    u = urlparse(uri)
    path = u.path if u.scheme in ("file", "") else uri.split("#")[0]
    var = u.fragment or None
    lead = None
    if var and ":" in var:
        var, k = var.rsplit(":", 1)
        lead = int(k)
    return path, var, lead


from .synth import SynthReader  # noqa: E402  (no cycle: synth imports us lazily)


class NcReader(SynthReader):
    """Classic-netCDF window reader on the format-agnostic planner.

    Mirrors TiffReader: overrides only header access + window fetch; the
    paste/warp/ROI planning comes from SynthReader.read. Subdataset
    (= variable) addressing travels as a URI fragment, applied by
    ``_resolve_subdataset`` exactly like the reference's netcdf:...:var
    source strings (loader/types.py:52-53)."""

    def _resolve_subdataset(self, src):
        import dataclasses

        return dataclasses.replace(
            src, uri=f"{src.uri}#{src.subdataset}", subdataset=None
        )

    def _header(self, uri: str) -> dict:
        from .synth import _ENV

        path, _, _ = _split_fragment(uri)
        cache = _ENV.setdefault("nc_headers", {})
        if path not in cache:
            cache[path] = read_netcdf_header(path)
            _ENV["nc_header_reads"] = _ENV.get("nc_header_reads", 0) + 1
        return cache[path]

    def _var_for(self, uri: str) -> Tuple[str, str, Optional[int], dict]:
        path, var, lead = _split_fragment(uri)
        hdr = self._header(uri)
        if var is None:
            dv = data_vars(hdr)
            if len(dv) != 1:
                raise ValueError(
                    f"{path}: {len(dv)} data variables — address one via "
                    f"RasterSource.subdataset (available: {dv})"
                )
            var = dv[0]
        if var not in hdr["vars"]:
            raise KeyError(f"{path}: no variable {var!r} (have {list(hdr['vars'])})")
        return path, var, lead, hdr

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
        path, var, lead, hdr = self._var_for(uri)
        v = hdr["vars"][var]
        shape = v["shape"]
        if len(shape) == 2:
            sel_prefix: tuple = ()
        elif len(shape) == 3:
            sel_prefix = (lead if lead is not None else 0,)
        else:
            raise ValueError(f"{path}#{var}: need a 2-D or 3-D variable, got {shape}")
        ny, nx = shape[-2], shape[-1]
        fill = src_nodata
        if fill is None:
            fill = v["attrs"].get("_FillValue", 0)
        ys = py0 + np.arange((py1 - py0 + decimation - 1) // decimation, dtype=np.int64) * decimation
        xs = px0 + np.arange((px1 - px0 + decimation - 1) // decimation, dtype=np.int64) * decimation
        out = np.full((ys.size, xs.size), fill, dtype=np.dtype(dtype))
        yok = (ys >= 0) & (ys < ny)
        xok = (xs >= 0) & (xs < nx)
        if yok.any() and xok.any():
            x0, x1 = int(xs[xok].min()), int(xs[xok].max()) + 1
            sel = sel_prefix + (
                slice(int(ys[yok].min()), int(ys[yok].max()) + 1, decimation),
                slice(x0, x1),
            )
            block = read_netcdf_var(path, hdr, var, sel)
            cols = (xs[xok] - x0).astype(np.int64)
            out[np.ix_(yok, xok)] = block[:, cols].astype(np.dtype(dtype), copy=False)
        return out
