"""Spans, Spark job groups and event-log task metrics for the traced run.

The benchmark records spans only from its own files, around the calls it
makes into the package. A span may carry a Spark job group, so every job
started inside it can be attributed: ``statusTracker`` gives job, stage and
task counts while the run is live, and the event log (enabled for the
traced run only) gives task run time, CPU time, GC, shuffle, spill and the
bytes that crossed the Arrow boundary once the session has stopped.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict


class NullTracer:
    """Tracing off: the ops run the same code with no bookkeeping."""

    op_id = None

    @contextlib.contextmanager
    def span(self, name, group=False):
        yield None


class Tracer:
    """Keeps spans in memory: name, start, end, parent, op id, and the
    Spark jobs started inside the span when it carries a job group."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list = []
        self.op_id = None
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name, group=False):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "op": self.op_id, "parent": parent}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        gid = f"span{rec['id']}" if group else None
        if gid:
            rec["group"] = gid
            self.sc.setJobGroup(gid, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if gid:
                self.sc.setLocalProperty("spark.jobGroup.id", self._enclosing_group())
                self._count_jobs(rec, gid)

    def _enclosing_group(self):
        for sid in reversed(self._stack):
            if self.spans[sid].get("group"):
                return self.spans[sid]["group"]
        return None

    def _count_jobs(self, rec, gid):
        st = self.sc.statusTracker()
        jobs = sorted(st.getJobIdsForGroup(gid))
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        rec.update(jobs=len(jobs), stages=len(stages), tasks=tasks)

    def named(self, name, op_ids=None):
        return [
            s for s in self.spans
            if s["name"] == name and (op_ids is None or s["op"] in op_ids)
        ]


def span_stats(tracer, name, ids) -> dict:
    """Per-op medians of one span name over the traced ops."""
    recs = tracer.named(name, ids)

    def med(key):
        vals = [r.get(key, 0) for r in recs]
        return statistics.median(vals) if vals else 0.0

    return {
        "s": statistics.median([r["end"] - r["start"] for r in recs]) if recs else 0.0,
        "jobs": med("jobs"),
        "stages": med("stages"),
        "tasks": med("tasks"),
        "groups": [r["group"] for r in recs if "group" in r],
        "n": len(recs),
    }


def task_stats(events, groups, n_ops) -> dict:
    """Event-log task metrics of the given job groups, per op."""
    keys = ("tasks", "task_retries", "task_run_s", "task_cpu_s", "gc_s",
            "shuffle_write_mb", "spill_mb", "python_io_mb")
    return {
        k: sum(events.get(g, {}).get(k, 0.0) for g in groups) / max(n_ops, 1) for k in keys
    }


def _open_event_log(path):
    if path.endswith(".zstd"):
        import pyarrow

        return pyarrow.input_stream(path, compression="zstd")
    return open(path, "rb")


def read_event_log(log_dir: str) -> dict:
    """Task metrics summed per job group from a stopped session's event
    log: {group: {tasks, task_retries, task_run_s, task_cpu_s, gc_s,
    shuffle_write_mb, spill_mb, python_io_mb}}."""
    paths = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not p.endswith(".inprogress")
    )
    if not paths:
        raise RuntimeError(f"no event log under {log_dir}")
    stage_group: dict = {}
    out: dict = defaultdict(lambda: defaultdict(float))
    for path in paths:
        with _open_event_log(path) as fh:
            for line in fh.read().decode().splitlines():
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    g = out[group]
                    g["tasks"] += 1
                    if info.get("Attempt", 0) > 0 or info.get("Failed") or ev.get("Stage Attempt ID", 0) > 0:
                        g["task_retries"] += 1
                    g["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    g["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") in (
                            "data sent to Python workers",
                            "data returned from Python workers",
                        ):
                            g["python_io_mb"] += float(acc.get("Update", 0)) / 1e6
    return out


def _proc_table() -> dict:
    """{pid: (ppid, comm, state)} for every process visible in /proc."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may hold spaces; the fields after it follow the last ')'
        rest = stat[stat.rfind(")") + 2 :].split()
        table[int(entry)] = (int(rest[1]), stat[stat.find("(") + 1 : stat.rfind(")")], rest[0])
    return table


def descendants(root_pid: int) -> list:
    """[(pid, comm)] of every process below ``root_pid``."""
    table = _proc_table()
    children: dict = defaultdict(list)
    for pid, (ppid, _, _) in table.items():
        children[ppid].append(pid)
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append((pid, table[pid][1]))
        todo.extend(children.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2 :].split()[0] != "Z"


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 1e6
    except OSError:
        return 0.0


def read_proc_tree(root_pid: int) -> dict:
    """Resident set sizes (MB) of the driver process, the JVM it started
    and the Python workers under the JVM, read from /proc."""
    out = {"driver": _rss_mb(root_pid), "jvm": 0.0, "workers": 0.0}
    for pid, comm in descendants(root_pid):
        if comm == "java":
            out["jvm"] += _rss_mb(pid)
        elif comm.startswith("python"):
            out["workers"] += _rss_mb(pid)
    return out
