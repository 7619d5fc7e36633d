"""The measurement code: ``bench.timed``, the headline list perfbench
copies, and the tools that import from ``bench``. Only the plan-dump test
starts Spark."""

from __future__ import annotations

import ast
import glob
import importlib.util
import os

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_timed_excludes_warm_call_and_records_probes(monkeypatch):
    probes = iter([{"probe": 0}, {"probe": 1}])
    monkeypatch.setattr(bench, "_machine_probe", lambda: next(probes))
    walls = iter([0.05, 0.3, 0.1, 0.2])
    clock = [0.0]
    calls = []

    def fake_perf_counter():
        return clock[0]

    def fn():
        calls.append(len(calls))
        clock[0] += next(walls)

    monkeypatch.setattr(bench.time, "perf_counter", fake_perf_counter)
    rec = bench.timed(fn)
    assert calls == [0, 1, 2, 3]
    assert rec["warm"] == 0.05
    assert rec["walls"] == [0.3, 0.1, 0.2]
    assert rec["best"] == 0.1
    assert rec["probes"] == [{"probe": 0}, {"probe": 1}]


def test_headline_matches_perfbench_copy():
    path = os.path.join(REPO, "perfbench", "registry.py")
    with open(path) as fh:
        tree = ast.parse(fh.read())
    queries = next(
        ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "QUERIES" for t in node.targets)
    )
    assert bench.HEADLINE == queries[:-1]


def test_tools_compile_and_import_existing_bench_names():
    tools = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
    paths = [os.path.join(REPO, "bench.py"), *tools]
    used = set()
    for path in paths:
        with open(path) as fh:
            src = fh.read()
        compile(src, path, "exec")
        tree = ast.parse(src)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "bench":
                used.update((path, a.name) for a in node.names)
            elif (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
                  and node.value.id == "bench"):
                used.add((path, node.attr))
    assert used, "no tool imports from bench"
    missing = [(os.path.relpath(p, REPO), n) for p, n in sorted(used) if not hasattr(bench, n)]
    assert not missing


def test_sweep_plan_dump_is_the_final_adaptive_plan(spark):
    """``tools/sweep.py --plans`` writes the plan AQE settled on at run
    time; the unexecuted query execution only holds AQE's initial plan."""
    spec = importlib.util.spec_from_file_location("sweep", os.path.join(REPO, "tools", "sweep.py"))
    sweep = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sweep)
    df = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
    initial = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "isFinalPlan=false" in initial
    assert "isFinalPlan=true" in sweep.final_plan(df)
