#!/usr/bin/env python
"""Time registry queries through ``bench.timed`` and optionally dump plans.

    python tools/sweep.py [--plans SUFFIX] [name ...]

Times each named query, or every registered query when none is named, at
$SPARK_GRAFT_SF_DIR (default: the bench's sf0.1 tables) with the bench's own
protocol: a warm call, then the best of three calls, each building the
query and running it to a noop sink, with a machine probe before and
after. Prints the slowest queries on stderr and one JSON line on stdout:
{"sf_dir", "total_sec" (sum of the bests), "queries": {name: record}}.
A query that fails is recorded as {"error": ...} and the sweep goes on.

With ``--plans SUFFIX`` each query's last built DataFrame runs once more,
untimed, through its own query execution, and that execution's final
adaptive plan (formatted) is written to plans/<name>_<SUFFIX>.txt.

Reading a full sweep: walls inflate late in one session from accumulated
pressure (Python workers, Arrow buffers, state stores), so time a
candidate alone before optimizing it; the streaming queries carry ~5-10 s
of fixed machinery (state stores, checkpoint I/O, memory sink) per run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import noop, timed  # noqa: E402
from odc_stac_spark import get_spark  # noqa: E402
from odc_stac_spark.queries import load_all  # noqa: E402
from odc_stac_spark.sources.tables import DEFAULT_SF_DIR  # noqa: E402


def final_plan(df) -> str:
    """The formatted physical plan of ``df`` once its own query execution
    has run: AQE re-plans at run time (broadcast conversion, partition
    coalescing), and the noop write runs a copy, so before this run the
    plan is AQE's initial one (``isFinalPlan=false``)."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    return df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="*", help="registry queries (default: all)")
    ap.add_argument("--plans", metavar="SUFFIX", help="write plans/<name>_<SUFFIX>.txt")
    args = ap.parse_args()
    spark = get_spark(app_name="sweep")
    registry = load_all()
    out: dict = {}
    df = None
    for name in args.names or list(registry):

        def run():
            nonlocal df
            df = registry[name].spark_fn(spark, DEFAULT_SF_DIR)
            noop(df)

        try:
            out[name] = timed(run)
        except Exception as e:  # noqa: BLE001 - one query must not stop the sweep
            out[name] = {"error": str(e)[:200]}
        print(f"{out[name].get('best', 'ERR'):>8}  {name}", file=sys.stderr, flush=True)
        if args.plans and "best" in out[name]:
            with open(os.path.join(REPO, "plans", f"{name}_{args.plans}.txt"), "w") as fh:
                fh.write(final_plan(df))
        spark.catalog.clearCache()
    best = {k: r["best"] for k, r in out.items() if "best" in r}
    for k, v in sorted(best.items(), key=lambda kv: -kv[1])[:20]:
        print(f"{v:8.3f}  {k}", file=sys.stderr)
    total = round(sum(best.values()), 3)
    print(json.dumps({"sf_dir": DEFAULT_SF_DIR, "total_sec": total, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
