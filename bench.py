#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Every phase is timed by :func:`timed`, the reference's protocol
(odc/stac/bench/_run.py:425-485, docs/benchmarking.rst:214-237): one
untimed warm call, which pays JVM/codegen/page-cache/Python-worker start
the way the reference excludes cluster startup, then three timed calls,
of which the best is reported. A query's timed region is its plan build
plus a run to a noop sink (full execution without a driver collect, the
analog of persist+wait).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from odc_stac_spark import get_spark  # noqa: E402
from odc_stac_spark.queries import load_all  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q7_nation_pair_volume",
    "q13_customer_order_distribution",
    "q19_disjunctive_revenue",
    "a2_solar_day",
    "a4_group_sort_bucketize",
    "j1_tyx_bins",
    "window_top3_orders_per_customer",
    "t_session_windows",
    "text_quality_score",
    "dedup_exact",
    "dedup_minhash_lsh",
    "knn_bruteforce_cosine",
    "j_interval_bucketed",
    "funnel_stages",
    "pivot_user_event_matrix",
]

PROTOCOL = (
    "every phase: one untimed warm call, then best of 3 timed calls, after one "
    "JIT warm-up pass over the headline; jp2_lossy_sec, dedup_pipeline_e2e_sec "
    "and sf1_spot are warm best-of-3 (single-shot in BENCH_local_r17 and "
    "earlier); every registry call releases the caches the previous call "
    "persisted, so each timed call recomputes its own; sf1_cold is the warm call"
)


def _loadavg() -> list[float]:
    """1/5/15-minute run-queue averages — the machine-load context needed to
    attribute a >15% per-query delta to co-tenant noise vs a real
    regression without re-running the bench."""
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:  # platform without getloadavg
        return []


def _machine_probe() -> dict:
    """Machine-health micro-probe (~0.5 s): memory-bus bandwidth, which the
    bandwidth-bound raster/jpeg phases feel on a shared host and loadavg
    cannot see (0.4 → 6 GB/s across a day moved raster 40 → 136 Mpx/s),
    plus CPU steal and idle."""
    out: dict = {}
    try:
        import numpy as np

        # steady state: both buffers pre-faulted, third copy timed
        a = np.ones(100_000_000 // 8)
        b = np.empty_like(a)
        np.copyto(b, a)
        np.copyto(b, a)
        t0 = time.perf_counter()
        np.copyto(b, a)
        out["mem_copy_gbps"] = round(2 * 100e6 / (time.perf_counter() - t0) / 1e9, 2)
        # allocation-inclusive, like a tile pipeline: under host memory
        # pressure this swings 15× while the steady state barely moves
        a.copy()  # discard the very first allocation (THP warmup noise)
        t0 = time.perf_counter()
        a.copy()
        out["alloc_copy_gbps"] = round(2 * 100e6 / (time.perf_counter() - t0) / 1e9, 2)
    except Exception:  # noqa: BLE001
        pass
    try:
        with open("/proc/stat") as fh:
            f0 = [int(v) for v in fh.readline().split()[1:9]]
        time.sleep(0.25)
        with open("/proc/stat") as fh:
            f1 = [int(v) for v in fh.readline().split()[1:9]]
        d = [b - a_ for a_, b in zip(f0, f1)]
        tot = sum(d) or 1
        out["steal_pct"] = round(100 * d[7] / tot, 2)
        out["idle_pct"] = round(100 * d[3] / tot, 2)
    except Exception:  # noqa: BLE001
        pass
    return out


def timed(fn) -> dict:
    """The one timing protocol of ``bench.py`` and ``tools/``: a machine
    probe, one untimed warm call of ``fn``, three timed calls and a second
    probe. Returns the warm call's wall (``warm``), the timed walls
    (``walls``), their minimum (``best``) and both ``probes``. No probe
    gates or repeats a run. (A JVM GC before each phase made the headline
    total read ~35% slower, so there is none.)"""
    before = _machine_probe()

    def wall() -> float:
        t0 = time.perf_counter()
        fn()
        return round(time.perf_counter() - t0, 3)

    warm = wall()
    walls = [wall() for _ in range(3)]
    return {"warm": warm, "walls": walls, "best": min(walls),
            "probes": [before, _machine_probe()]}


def noop(df) -> None:
    """Run ``df`` to completion without collecting it."""
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # (1m, 5m, 15m) loadavg at every phase boundary, so each section's
    # numbers carry their own noise context
    phase_load: list[list] = [["start", *_loadavg()]]
    machine_start = _machine_probe()
    spark = get_spark(app_name="odc-stac-spark-bench")
    registry = load_all()
    phases: dict[str, dict] = {}

    def query(name: str, d: str = sf_dir) -> dict:
        rec = timed(lambda: noop(registry[name].spark_fn(spark, d)))
        # every registry call already releases the previous call's scoped
        # caches; this also drops anything a query persisted outside them
        spark.catalog.clearCache()
        return rec

    # JIT warm-up of the fresh JVM, excluded like its start: without it
    # the first headline queries read up to 2× their warm-JVM walls even
    # after their own warm call
    for name in HEADLINE:
        noop(registry[name].spark_fn(spark, sf_dir))
    spark.catalog.clearCache()
    phase_load.append(["after_warmup", *_loadavg()])

    timings: dict[str, float] = {}
    for name in HEADLINE:
        phases[name] = query(name)
        timings[name] = phases[name]["best"]
        phase_load.append([f"after_{name}", *_loadavg()])

    # sf1 rehearsal: the headline at 10× scale on a generated replica, never
    # in the total; it exposes driver-side collects and skew that sf0.1
    # hides (a healthy query scales ≤~10×). It runs before the mapInPandas
    # phases, whose Python workers slowed the next JVM shuffles 3-5×.
    sf1_spot: dict = {}
    sf1_cold: dict = {}
    sf1_replica: dict = {}
    try:
        sf1_dir, sf1_replica = _sf1_replica(sf_dir)
        for name in HEADLINE:
            rec = phases[f"sf1/{name}"] = query(name, sf1_dir)
            sf1_cold[name], sf1_spot[name] = rec["warm"], rec["best"]
    except Exception as e:  # noqa: BLE001 - rehearsal must never sink the bench
        sf1_spot = {"error": str(e)[:200]}
    phase_load.append(["after_sf1_rehearsal", *_loadavg()])

    # raster-path throughput (BASELINE sanity anchor: reference does
    # 4.1-4.8 Mpx/s/thread on the s2-ms-mosaic load)
    mpx_s, phases["r_mosaic_load"], plan_submit_sec = raster_throughput(spark)
    phase_load.append(["after_raster", *_loadavg()])
    warp_mpx_s, phases["r_warp_load"] = warp_throughput(spark)
    phase_load.append(["after_warp", *_loadavg()])
    timings["r_mosaic_load"] = phases["r_mosaic_load"]["best"]
    timings["r_warp_load"] = phases["r_warp_load"]["best"]
    # the specialty metrics below are reported on their own, NOT in the
    # headline total, so the total stays comparable across artifacts
    jpeg_mpx_s, phases["jpeg_decode"] = media_decode_throughput(spark)
    phase_load.append(["after_jpeg", *_loadavg()])

    # the pure-Python EBCOT/MQ cost of the from-scratch lossy JPEG2000
    # codec (production decodes go through the native DECODERS seam), and
    # the composed dedup pipeline (exact-collapse → LSH → star-CC → keep)
    specialty: dict[str, float | None] = {}
    for name in ("mm_image_jp2_lossy", "dedup_pipeline_e2e"):
        try:
            phases[name] = query(name)
            specialty[name] = phases[name]["best"]
        except Exception as e:  # noqa: BLE001 - one query must not sink the bench
            print(f"WARNING: {name} bench failed: {e!r}", file=sys.stderr)
            specialty[name] = None
        phase_load.append([f"after_{name}", *_loadavg()])

    headline = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "raster_mpx_per_sec": mpx_s,
        "warp_mpx_per_sec": warp_mpx_s,
        "jpeg_decode_mpx_per_sec": jpeg_mpx_s,
        "jp2_lossy_sec": specialty["mm_image_jp2_lossy"],
        # BENCH_r15 and earlier timed the jpeg phase cold
        "jpeg_decode_protocol": "warm (since r16; r15 and earlier were cold)",
        "protocol": PROTOCOL,
        "dedup_pipeline_e2e_sec": specialty["dedup_pipeline_e2e"],
        # plan-construction time for the 9-item mosaic load (the
        # reference's "graph submit" ≲0.25 s, docs/benchmarking.rst:230)
        "plan_submit_sec": plan_submit_sec,
        # machine-load context; the per-phase trace is in the detail line
        "loadavg_start": phase_load[0][1:],
        "loadavg_end": _loadavg(),
        "machine_end": _machine_probe(),
    }
    detail = {
        "metric": "bench_scale_detail",
        "sf1_protocol": "warm best-of-3 (timed()); sf1_cold is the warm call",
        "sf1_spot": sf1_spot,
        # warm-call walls + replica parquet layout: a swinging warm call
        # with a stable best means a page-cache/IO episode, both swinging
        # means plan/compute, a layout change means the replica moved
        "sf1_cold": sf1_cold,
        "sf1_replica": sf1_replica,
        "loadavg_trace": phase_load,
        "machine_start": machine_start,
        # every phase's timed() record: warm wall, timed walls, probes
        "phases": phases,
    }
    # The bulky detail prints FIRST and the compact headline LAST, so any
    # tail capture (last line or last N bytes) gets a complete, parseable
    # headline. The full document is also written to the gitignored
    # BENCH_local_latest.json, and, with SPARK_GRAFT_BENCH_COMMIT=1, to
    # the next committed round artifact BENCH_local_r{N}.json.
    print(json.dumps(detail))
    try:
        doc = {**headline, **{k: v for k, v in detail.items() if k != "metric"}}
        dsts = [os.path.join(REPO, "BENCH_local_latest.json")]
        if os.environ.get("SPARK_GRAFT_BENCH_COMMIT"):
            rounds = (re.fullmatch(r"BENCH_r(\d+)\.json", f) for f in os.listdir(REPO))
            nxt = max((int(m.group(1)) for m in rounds if m), default=0) + 1
            dsts.append(os.path.join(REPO, f"BENCH_local_r{nxt:02d}.json"))
        for dst in dsts:
            # write-then-rename: a crash mid-dump never leaves a truncated
            # artifact shadowing a prior good one
            tmp = dst + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(doc, fh, indent=1)
            os.replace(tmp, dst)
    except Exception as e:  # noqa: BLE001 - the local artifact must never sink the bench
        print(f"WARNING: BENCH_local artifact write failed: {e!r}", file=sys.stderr)
    print(json.dumps(headline))
    spark.stop()


def _sf1_replica(sf_dir: str) -> tuple[str, dict]:
    """The 10× replica of ``sf_dir`` under $TMPDIR (the source may be
    read-only), built when absent, and its parquet layout per table.

    The cache key fingerprints the source parquet (name/size/mtime) and
    make_sf.py itself, so a replica from an older source or generator never
    skews the numbers; the layout (row groups, files, bytes) is reported
    because it moves the sf1 walls."""
    import glob
    import hashlib
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_sf import make_sf

    fph = hashlib.sha256()
    for fn in sorted(os.listdir(sf_dir)):
        if fn.endswith(".parquet"):
            st = os.stat(os.path.join(sf_dir, fn))
            fph.update(f"{fn}:{st.st_size}:{st.st_mtime_ns}".encode())
    with open(os.path.join(REPO, "tools", "make_sf.py"), "rb") as fh:
        fph.update(fh.read())
    sf1_dir = os.path.join(tempfile.gettempdir(), f"spark_graft_sf1_{fph.hexdigest()[:16]}")
    for stale in glob.glob(os.path.join(tempfile.gettempdir(), "spark_graft_sf1*")):
        if stale != sf1_dir:
            shutil.rmtree(stale, ignore_errors=True)
    if not os.path.exists(os.path.join(sf1_dir, "lineitem.parquet")):
        make_sf(sf_dir, sf1_dir, 10)
    layout = {}
    for fn in sorted(os.listdir(sf1_dir)):
        if not fn.endswith(".parquet"):
            continue
        path = os.path.join(sf1_dir, fn)
        # Spark writes a directory of part files
        parts = [path] if not os.path.isdir(path) else sorted(glob.glob(f"{path}/*.parquet"))
        stat = {"bytes": 0, "rows": 0, "row_groups": 0, "files": len(parts)}
        for p in parts:
            meta = pq.ParquetFile(p).metadata
            stat["bytes"] += os.path.getsize(p)
            stat["rows"] += meta.num_rows
            stat["row_groups"] += meta.num_row_groups
        layout[fn[:-8]] = stat
    return sf1_dir, layout


def _mpx_per_sec(plan, sec: float) -> float:
    npix = len(plan.bands) * len(plan.group_keys) * plan.gbox.shape[0] * plan.gbox.shape[1]
    return round(npix / sec / 1e6, 3)


def _scene_strip(prefix: str, n: int, uris: dict, off: float = 0.0) -> list:
    """``n`` overlapping 2000x2816 uint16 scenes in EPSG:32735, each 1000
    rows south of the one before and shifted by ``off`` metres; ``uris``
    maps each band to its URI template over the scene index ``i``."""
    from datetime import datetime, timedelta

    from odc_stac_spark.model import GeoBox, RasterBandMetadata, RasterSource
    from odc_stac_spark.plans.load import Item

    ny, nx, dy = 2000, 2816, 1000
    top = 10.0 * (ny + (n - 1) * dy)
    return [
        Item(
            id=f"{prefix}-{i:03d}",
            datetime=datetime(2020, 6, 6, 8, 30) + timedelta(minutes=i),
            bands={
                b: RasterSource(
                    uri.format(i=i),
                    geobox=GeoBox(
                        (ny, nx), (10.0, 0.0, off, 0.0, -10.0, top - i * dy * 10.0 + off),
                        "EPSG:32735",
                    ),
                    meta=RasterBandMetadata("uint16", 0),
                )
                for b, uri in uris.items()
            },
            lon=27.4,
        )
        for i in range(n)
    ]


def raster_throughput(spark):
    """Time a s2-ms-mosaic-shaped load: 9 overlapping items x 2 bands into
    a 10000x2816 grid (~56 Mpx of output, 101 Mpx of source reads) through
    the full tile pipeline. Returns (Mpx/s, timed() record, the fastest
    ``load()`` call of the timed runs — the plan-submit time)."""
    from odc_stac_spark.plans.load import load

    items = _scene_strip("bench", 9, {b: f"synth://{b}{{i}}?seed={{i}}&nodata_every=5"
                                      for b in ("red", "nir")})
    submits, plans = [], []

    def run():
        start = time.perf_counter()
        tiles_df, plan = load(spark, items, groupby="solar_day", chunks=(1024, 1024))
        submits.append(time.perf_counter() - start)
        plans.append(plan)
        noop(tiles_df)

    rec = timed(run)
    return _mpx_per_sec(plans[0], rec["best"]), rec, round(min(submits[1:]), 3)


def media_decode_throughput(spark, n_images: int = 1536, side: int = 256):
    """Decode throughput of the REAL JPEG codec through the multimodal
    pipeline: n pre-encoded JFIF payloads (encoded on the executors and
    persisted before timing) → executor decode + stats via the DECODERS
    seam. Measures the Python-side codec rate the training-data decode
    stage pays (PIL/nvJPEG would slot into the same seam).

    1536 images ≈ 100 Mpx keeps decode >80% of the wall: at 384 the ~0.45 s
    fixed job cost (Arrow stream setup + scheduling) was half of it, so the
    metric tracked the job floor, not the sustained decode rate."""
    from pyspark.sql import functions as F

    from odc_stac_spark.operators.multimodal import image_stats

    def _gen(batches):
        import numpy as np

        from odc_stac_spark.operators.jpeg import encode_jpeg

        y, x = np.mgrid[0:side, 0:side]
        for pdf in batches:
            ims = (((y * 5 + x * 3 + int(i) * 37) % 256).astype(np.uint8) for i in pdf["doc_id"])
            media = [bytearray(encode_jpeg(im, quality=85)) for im in ims]
            yield pdf.assign(media=media, media_type="image/jpeg")

    ids = (
        spark.range(n_images)
        .select(F.col("id").alias("doc_id"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    df = ids.mapInPandas(_gen, "doc_id long, media binary, media_type string").persist()
    df.count()  # materialize inputs before timing
    rec = timed(lambda: noop(image_stats(df)))
    df.unpersist()
    return round(n_images * side * side / 1e6 / rec["best"], 3), rec


def warp_throughput(spark):
    """F16 resampling-path throughput: the same mosaic shape but every
    source half-a-pixel offset from the output grid with bilinear
    resampling — forces the dense warp path in every tile task (the
    reference's rasterio.warp slow path, loader/_rio.py:361-369).
    Returns (Mpx/s, timed() record)."""
    from odc_stac_spark.model import GeoBox, RasterLoadParams
    from odc_stac_spark.plans.load import load

    # 12 scenes → a 13000x2816 (36.6 Mpx) output grid: large enough that
    # the fixed pandas-UDF job latency amortizes and the metric measures
    # SUSTAINED warp throughput (6 scenes measured the job floor)
    items = _scene_strip("warp", 12, {"red": "synth://w{i}?seed={i}"}, off=5.0)
    out_gbox = GeoBox((13000, 2816), (10.0, 0.0, 0.0, 0.0, -10.0, 130000.0), "EPSG:32735")
    cfg = {"*": RasterLoadParams(dtype="uint16", fill_value=0, resampling="bilinear")}
    plans = []

    def run():
        # 512-px tiles: 156 tile tasks, ~5 per core, so hash-interleaved
        # stragglers amortize (1024 left a third of the machine idle)
        tiles_df, plan = load(
            spark, items, groupby="solar_day", geobox=out_gbox, chunks=(512, 512), cfg=cfg
        )
        plans.append(plan)
        noop(tiles_df)

    rec = timed(run)
    return _mpx_per_sec(plans[0], rec["best"]), rec


if __name__ == "__main__":
    main()
