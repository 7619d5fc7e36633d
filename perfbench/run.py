#!/usr/bin/env python3
"""odc-stac-spark benchmark: one workload per run, one client, closed loop.

    python3 perfbench/run.py --workload s2_mosaic --seed 7 --seconds 8 --trace 0

Workloads (DESIGN.md says why each was chosen and what each layer should move):

- ``s2_mosaic``: STAC JSON -> parse -> ``load(groupby="solar_day")`` over
  overlapping deflate COGs (driver-list path).
- ``catalog_deep``: static STAC catalog -> ``parse_items`` ->
  ``load_from_catalog(groupby="time")`` over one footprint on many dates.
- ``registry_sweep``: registry queries built and run to a noop sink over
  tables generated at sf0.01, checked against their DuckDB oracles.

A run starts the Spark session on ``local[nproc]``, generates the inputs
from ``--seed`` and runs one untimed warm-up op that keeps its outputs,
then times ops back to back for ``--seconds`` (at least two ops), then
checks the kept outputs against a reference built from the inputs. With
``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics BENCHMARK.json lists, from
spans, Spark job groups, the Spark event log and a serial kernel replay.
Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed at exit.
"""

import time

T_START = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from pixels import CatalogDeep, S2Mosaic  # noqa: E402
from registry import RegistrySweep  # noqa: E402
from spans import NullTracer, Tracer, alive, descendants, read_event_log, read_proc_tree  # noqa: E402

WORKLOADS = {"s2_mosaic": S2Mosaic, "catalog_deep": CatalogDeep, "registry_sweep": RegistrySweep}


def load_per_layer() -> dict:
    """Per-layer metrics a traced run must report, from BENCHMARK.json:
    name -> unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def configure_env(workdir: str, nproc: int, event_log_dir) -> None:
    """Make the package importable by the driver and by Spark's Python
    workers whatever the cwd, pin ``local[nproc]`` and keep every scratch
    file of Spark and the JVM inside ``workdir``."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    tempfile.tempdir = None
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log_dir
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    sys.path.insert(0, ROOT)


class RssSampler(threading.Thread):
    """Peak of the summed RSS of driver, JVM and Python workers, sampled
    every 0.25 s for the whole traced run, plus each part's own peak.

    Reported per layer, not end to end: the JVM's share grows with G1's
    adaptive heap sizing and read 1.7-3.0 GB on runs of the same work, a
    spread across seeds above the largest bound a metric may carry."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_total = 0.0
        self.peak = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        self._halt = threading.Event()

    def sample(self):
        parts = read_proc_tree(os.getpid())
        self.peak_total = max(self.peak_total, sum(parts.values()))
        for k, v in parts.items():
            self.peak[k] = max(self.peak[k], v)

    def run(self):
        while not self._halt.wait(0.25):
            self.sample()

    def stop(self):
        self._halt.set()
        self.join()
        self.sample()


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM it started, and wait until
    the JVM and its Python workers have all ended."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = [pid for pid, _ in descendants(proc.pid)] if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # the workers outlive the JVM by a moment, re-parented; wait for them
    deadline = time.perf_counter() + 30
    while workers and time.perf_counter() < deadline:
        workers = [pid for pid in workers if alive(pid)]
        time.sleep(0.1)
    for pid in workers:
        os.kill(pid, signal.SIGKILL)


def timed_ops(wl, seconds: float):
    """Ops back to back until ``seconds`` have passed and at least two ops
    ran; returns (durations of ops that completed, number that raised).
    The floor of two keeps a run whose first op ends just past the deadline
    from reporting one sample where the next run reports two."""
    tracer = NullTracer()
    times, raised = [], 0
    deadline = time.perf_counter() + seconds
    while len(times) + raised < 2 or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        try:
            wl.op(tracer)
            times.append(time.perf_counter() - t0)
        except Exception:  # noqa: BLE001 - counted as a failed op
            traceback.print_exc(file=sys.stderr)
            raised += 1
    return times, raised


def traced_ops(wl, tracer, seconds: float):
    """Alternate plain and traced ops for ``seconds`` (at least two of
    each); returns (plain durations, traced durations, traced op ids)."""
    plain, traced, ids = [], [], []
    deadline = time.perf_counter() + seconds
    i = 0
    while i < 4 or time.perf_counter() < deadline:
        on = i % 2 == 1
        tracer.op_id = i
        t0 = time.perf_counter()
        wl.op(tracer if on else NullTracer())
        (traced if on else plain).append(time.perf_counter() - t0)
        if on:
            ids.append(i)
        i += 1
    return plain, traced, ids


def run(args, workdir: str, nproc: int) -> dict:
    per_layer = load_per_layer() if args.trace else None
    event_dir = os.path.join(workdir, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    configure_env(workdir, nproc, event_dir)
    # memory is a per-layer figure only, so only a traced run samples it
    sampler = RssSampler() if args.trace else None
    if sampler:
        sampler.start()

    t0 = time.perf_counter()
    from odc_stac_spark import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.range(1).count()
    session_start_s = time.perf_counter() - t0
    stopped = False
    try:
        wl = WORKLOADS[args.workload](spark, workdir, args.seed, nproc)
        t_fix = time.perf_counter()
        wl.setup()
        fixtures_s = time.perf_counter() - t_fix
        # The first op of a fresh session pays JIT, codegen and Python-worker
        # start (2-5x a warm op), so it is never timed. It runs the same
        # calls on the same inputs as the timed ops, with a sink that keeps
        # the outputs the check compares once the timed ops are done. A
        # workload may add a fixed number of plain untimed ops after it.
        t_warm = time.perf_counter()
        wl.warmup()
        for _ in range(wl.warm_ops):
            wl.op(NullTracer())
        warmup_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - T_START
        summary = {"setup": {"session_start_s": session_start_s, "fixtures_s": fixtures_s,
                             "warmup_op_s": warmup_s}}

        if not args.trace:
            times, raised = timed_ops(wl, args.seconds)
            if not times:
                raise RuntimeError("no op completed")
            n_ops = len(times) + raised
            summary["ops_s"] = times
        else:
            tracer = Tracer(spark.sparkContext)
            plain, traced, ids = traced_ops(wl, tracer, args.seconds)
            raised = 0
            n_ops = len(plain) + len(traced)
            summary.update(plain_s=plain, traced_s=traced)

        # The reference (numpy mosaic or DuckDB oracle) is built after the
        # timed ops, so its cost falls in neither setup_s nor an op.
        t_chk = time.perf_counter()
        mismatches = wl.verify()
        summary["check_s"] = time.perf_counter() - t_chk

        if not args.trace:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (statistics.median(times), "s"),
            }
        else:
            extra = wl.traced_extras(tracer)
            sampler.stop()
            stop_spark(spark)
            stopped = True
            plain_p50 = statistics.median(plain)
            lm = {k: 0.0 for k in per_layer if k.startswith(wl.skipped_layers)}
            lm.update(wl.layer_metrics(tracer, ids, read_event_log(event_dir), nproc, plain_p50))
            lm.update(extra)
            lm.update(wl.fixture_stats)
            lm.update({
                "session.start_s": session_start_s,
                "rss.peak_mb": sampler.peak_total,
                "rss.driver_mb": sampler.peak["driver"],
                "rss.jvm_mb": sampler.peak["jvm"],
                "rss.workers_mb": sampler.peak["workers"],
                "trace.overhead_frac": statistics.median(traced) / plain_p50 - 1.0,
            })
            missing, unlisted = set(per_layer) - set(lm), set(lm) - set(per_layer)
            if missing or unlisted:
                raise RuntimeError(
                    f"per-layer metrics differ from BENCHMARK.json: not emitted "
                    f"{sorted(missing)}, not listed {sorted(unlisted)}"
                )
            metrics = {k: (v, per_layer[k]) for k, v in lm.items()}
        # the warm-up op ran the same calls on the same inputs as the timed
        # ones, so a wrong output fails every op of the run
        attempted = n_ops + 1 + wl.warm_ops
        failed = attempted if mismatches else raised
        summary.update(n_ops=n_ops, mismatches=mismatches, failed_op_frac=failed / attempted)
    finally:
        if not stopped:
            if sampler:
                sampler.stop()
            stop_spark(spark)

    for name, (value, unit) in sorted(metrics.items()):
        print(f"{args.workload} {name} = {value:.6g} {unit}", file=sys.stderr)
    print(f"{args.workload} summary {json.dumps(summary)}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "odc_stac_spark", "__init__.py")):
        print(f"odc_stac_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    try:
        result = run(args, workdir, nproc)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(os.path.dirname(workdir))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
