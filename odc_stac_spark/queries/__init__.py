"""Query registry: single source of truth for the correctness gate.

Every implemented operator from SURVEY.md §2 (plus the LLM-pipeline
extensions) registers here with

- a Spark callable ``(spark, sf_dir) -> DataFrame`` (the engine path), and
- optionally a DuckDB-runnable ANSI SQL string (the oracle path).

``__spark_entry__.py`` and ``tests/test_oracle.py`` both consume this
registry, so the local test suite checks exactly what the driver checks.

Determinism rules (both sides MUST follow them, see tests/test_oracle.py):
- alias every computed column identically in Spark and SQL;
- round floating aggregates (sums/avgs/cosines) so double reassociation
  noise cannot flip the value hash;
- DuckDB ``CAST(double AS INT)`` rounds while Spark truncates — always use
  explicit ``floor``/``trunc``;
- deterministic tie-breaks on every top-k / limit.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    doc: str = ""
    tags: tuple = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}

# Per-query cache lifecycle (ADVICE r11): queries persist intermediates
# that must stay cached until the CALLER materializes the returned
# DataFrame, so they cannot unpersist before returning. Left alone, a
# long-lived session running the whole registry accumulates every
# persisted subtree in the block manager — the same resident-memory
# pressure root-caused for the r8-r10 bench variance. scoped_persist()
# registers the cache for release when the next registry query is
# entered (by which point the previous result has been materialized),
# the same query included: a timed re-run of a query recomputes what it
# persists instead of reading its previous run's blocks, so best-of-N
# times the query, not the stages above its caches. Unpersist is always
# safe for correctness (worst case: recompute). scoped_tempdir() gives a
# work directory (a stream's sink or checkpoint) the same lifetime, so a
# result may read it lazily until the next registry query is entered.
#
# Concurrency note (ADVICE r12): the registry assumes SEQUENTIAL query
# execution on a session — the lifecycle "release the previous query's
# caches on next entry" is only well-defined with one query in flight.
# The lock below keeps the list operations themselves race-free, but
# interleaved queries on one session will still unpersist each other's
# live caches and remove each other's work directories; run the registry
# sequentially.
import tempfile as _tempfile
import threading as _threading

_SCOPED_LOCK = _threading.Lock()
_SCOPED_RELEASES: list = []  # callables that release_caches() runs once


def _scope(release: Callable[[], None]) -> None:
    with _SCOPED_LOCK:
        _SCOPED_RELEASES.append(release)


def scoped_persist(df: DataFrame) -> DataFrame:
    """persist() with registry-query lifetime (released by release_caches,
    which the registry wrapper calls whenever a query is entered)."""
    df = df.persist()
    _scope(df.unpersist)
    return df


def scoped_tempdir(prefix: str) -> str:
    """A new empty directory under ``tempfile.gettempdir()`` with
    registry-query lifetime: release_caches removes it with everything
    written below it."""
    d = _tempfile.TemporaryDirectory(prefix=prefix, ignore_cleanup_errors=True)
    _scope(d.cleanup)
    return d.name


def release_caches() -> None:
    """Unpersist every scoped cache and remove every scoped directory
    registered since the last call."""
    with _SCOPED_LOCK:
        drained, _SCOPED_RELEASES[:] = list(_SCOPED_RELEASES), []
    for release in drained:
        try:
            release()
        except Exception:  # noqa: BLE001 - session may already be stopped
            pass


def register(name: str, oracle: Optional[str] = None, doc: str = "", tags: tuple = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name}")

        # The REGISTRY entry releases the previous call's scoped caches;
        # the RAW fn is returned so intra-module composition (e.g.
        # dedup_connected_components -> dedup_ngram_jaccard) does not
        # release its caller's caches mid-query.
        def run(spark: SparkSession, sf_dir: str, _fn=fn) -> DataFrame:
            release_caches()
            return _fn(spark, sf_dir)

        run.__name__ = fn.__name__
        run.__doc__ = fn.__doc__
        REGISTRY[name] = Query(name, run, oracle, doc, tags)
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import all query modules (side-effect: fills REGISTRY) and return it.

    Import order IS the registry order, and external verification samples a
    window from the front — so the pixel-plane / similarity / temporal /
    multimodal / analytics queries (verified only locally in rounds 2-4)
    are registered first this round, with the relational/metadata/text/dedup
    block (externally verified green in rounds 1-4) behind them.  The union
    of verified rows across rounds then covers the whole registry.
    """
    from . import raster  # noqa: F401
    from . import similarity  # noqa: F401
    from . import temporal  # noqa: F401
    from . import multimodal  # noqa: F401
    from . import scalars  # noqa: F401
    from . import llm_pipeline  # noqa: F401
    from . import analytics  # noqa: F401
    from . import relational  # noqa: F401
    from . import relational_deep  # noqa: F401
    from . import metadata_plane  # noqa: F401
    from . import text  # noqa: F401
    from . import dedup  # noqa: F401
    from . import graph  # noqa: F401

    # SELF-MAINTAINING rotation: external verification samples a window
    # from the FRONT of this registry, so queries that already have a
    # driver-verified PASSING row in any accumulated CORRECTNESS_r*.json
    # are demoted behind the never-verified block. A name counts as
    # verified only when some round's record shows success:
    #   hash_match is True, or a rows-only check (err == "no_oracle")
    #   that produced rows. Failed/errored rows do NOT count — they are
    #   promoted to the very FRONT of the next window so the driver
    #   re-checks them first (a hash-FAIL must never silently rotate out
    #   of the verification window). Each round the window is then spent
    #   on queries needing fresh signal, and the union of PASSING rows
    #   across rounds converges on the whole registry (every query is
    #   additionally oracle-verified locally via tools/driver_check.py).
    verified: set = set()
    needs_recheck: set = set()
    hash_passed: set = set()
    last_pass: dict = {}  # name -> latest round with a passing row
    try:
        import glob as _glob
        import json as _json
        import os as _os
        import re as _re

        root = _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
        for f in sorted(_glob.glob(_os.path.join(root, "CORRECTNESS_r*.json"))):
            m = _re.search(r"_r(\d+)\.json$", f)
            rnd = int(m.group(1)) if m else 0
            with open(f) as fh:
                for name, rec in _json.load(fh).items():
                    if not isinstance(rec, dict):
                        needs_recheck.add(name)
                        continue
                    if rec.get("hash_match") is True:
                        hash_passed.add(name)
                    ok = rec.get("hash_match") is True or (
                        rec.get("err") == "no_oracle" and (rec.get("spark_rows") or 0) > 0
                    )
                    if ok:
                        verified.add(name)
                        last_pass[name] = max(rnd, last_pass.get(name, 0))
                    else:
                        needs_recheck.add(name)
        needs_recheck -= verified  # any later passing row supersedes a failure
        # oracle-strengthened: the registration now carries a SQL oracle but
        # every passing row so far was rows-only — re-check to earn the
        # hash-gated row the stronger registration claims
        for name, q in REGISTRY.items():
            if q.oracle is not None and name in verified and name not in hash_passed:
                verified.discard(name)
                needs_recheck.add(name)
    except Exception:  # noqa: BLE001 - ordering is best-effort, never fatal
        pass
    # within the fresh block, the most distinctive operator families go
    # first (one-of-a-kind codecs/sources/layout ops ahead of the many
    # same-family window/agg variants)
    priority = (
        "s_geoparquet_catalog",
        "spatial_curve_layout",
        "r_multiband_cog_zonal",
        "data_quality_report",
        "sketch_hll_rollup",
        "t_stream_continuous_agg",
        "r_netcdf_zonal",
        "mm_webdataset_pipeline",
        "mm_image_jpeg_codec",
        "mm_video_avi_codec",
        "mm_image_png_codec",
        "mm_audio_wav_codec",
        "text_ngram_lm_score",
        "text_pii_scrub",
        "text_clean_html",
    )
    recheck = {k: REGISTRY[k] for k in sorted(needs_recheck) if k in REGISTRY}
    fresh = {k: REGISTRY[k] for k in priority if k in REGISTRY and k not in verified and k not in recheck}
    fresh.update({k: v for k, v in REGISTRY.items() if k not in verified and k not in recheck})
    # STALENESS-ordered tail (VERDICT r7 #5): verified names are re-offered
    # oldest-pass FIRST, so once the recheck/fresh blocks drain, the
    # driver's window continuously re-validates the longest-unchecked
    # queries instead of re-reading the same prefix every round.
    seen = {
        k: REGISTRY[k]
        for k in sorted(
            (k for k in REGISTRY if k in verified),
            key=lambda k: (last_pass.get(k, 0), k),
        )
    }
    REGISTRY.clear()
    REGISTRY.update(recheck)  # failed/errored rows lead the window
    REGISTRY.update(fresh)
    REGISTRY.update(seen)

    return REGISTRY
