"""Spans around the benchmark's calls into the program, attribution of
Spark's event log to those spans, and memory sampling from /proc.

A span is one call the benchmark makes (a ``Pipeline.stage_*()``, a
``run_mixture()``, a component op). In a traced run each span sets its
id as the Spark job group, so every job, stage and task in the event
log names the span that caused it. Spans stay in memory and are
written once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")

PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "data sent to Python workers": "python_mb_sent",
    "data returned from Python workers": "python_mb_recv",
}


class Tracer:
    """Records spans; with a SparkContext it also tags Spark jobs."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"span-{next(self._ids)}-{name}",
               "parent": parent["id"] if parent else None, "name": name}
        self._stack.append(rec)
        self._tag(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(parent)
            self.spans.append(rec)

    def _tag(self, rec: dict | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", rec["id"] if rec else None)
            self.sc.setLocalProperty("spark.job.description", rec["name"] if rec else None)


@contextmanager
def no_span(_name: str):
    yield None


# ---------------------------------------------------------------- memory


def descendants(root_pid: int) -> list[int]:
    """Every live descendant of ``root_pid``, read from /proc."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        children[int(stat[stat.rindex(")") + 2:].split()[1])].append(int(d))
    out, todo = [], list(children[root_pid])
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children[pid])
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of every descendant of ``root_pid`` (not itself)."""
    total = 0
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of the peak summed RSS of this process's
    descendants (the Spark driver JVM and its Python workers)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval_s):
            v = tree_rss_bytes(me)
            with self._lock:
                self._peak = max(self._peak, v)

    def reset(self) -> None:
        with self._lock:
            self._peak = tree_rss_bytes(os.getpid())

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 1e6

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------------- event log


def _walk_plan(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], node["simpleString"], m["name"])
    for c in node.get("children", []):
        _walk_plan(c, out)


class EventLog:
    """Jobs, stages, tasks and SQL plan metrics of one Spark event log,
    keyed by the job group that caused them."""

    def __init__(self, path: str):
        self.jobs = defaultdict(list)          # group -> [(job id, submit ms, end ms)]
        self.stage_group: dict[int, str] = {}
        self.stage_span: dict[int, tuple[int, int]] = {}
        self.tasks = defaultdict(list)         # stage id -> [task dict]
        self.accums: dict[int, tuple] = {}     # accumulator id -> plan node
        job_group, job_submit = {}, {}
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    job_group[e["Job ID"]] = e["Properties"].get("spark.jobGroup.id")
                    job_submit[e["Job ID"]] = e["Submission Time"]
                elif kind == "SparkListenerJobEnd":
                    g = job_group.get(e["Job ID"])
                    self.jobs[g].append((e["Job ID"], job_submit[e["Job ID"]], e["Completion Time"]))
                elif kind == "SparkListenerStageSubmitted":
                    props = e.get("Properties") or {}
                    self.stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    self.stage_span[si["Stage ID"]] = (si["Submission Time"], si["Completion Time"])
                elif kind == "SparkListenerTaskEnd":
                    self.tasks[e["Stage ID"]].append(_task(e))
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _walk_plan(e["sparkPlanInfo"], self.accums)

    def group_tasks(self, gid: str) -> list[dict]:
        return [t for s, g in self.stage_group.items() if g == gid for t in self.tasks[s]]

    def stage_metrics(self, gid: str, start: float, end: float, cores: int) -> dict:
        """Per-span metrics: jobs, driver-only time, task time and the
        rest, for the span with job group ``gid`` over [start, end] s."""
        wall = end - start
        covered = covered_s([(a / 1e3, b / 1e3) for _, a, b in self.jobs[gid]], start, end)
        tasks = self.group_tasks(gid)
        task_s = sum(t["dur_ms"] for t in tasks) / 1e3
        stages = [s for s, g in self.stage_group.items() if g == gid and s in self.stage_span]
        skew = 0.0
        if stages:
            longest = max(stages, key=lambda s: self.stage_span[s][1] - self.stage_span[s][0])
            durs = [t["dur_ms"] for t in self.tasks[longest]]
            if durs and statistics.median(durs) > 0:
                skew = max(durs) / statistics.median(durs)
        out = {
            "wall_s": wall,
            "driver_s": max(wall - covered, 0.0),
            "jobs": len(self.jobs[gid]),
            "task_s": task_s,
            "busy_share": task_s / (cores * wall) if wall > 0 else 0.0,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "shuffle_mb": sum(t["shuffle_b"] for t in tasks) / 1e6,
            "spill_mb": sum(t["spill_b"] for t in tasks) / 1e6,
            "task_skew": skew,
        }
        for key in PY_METRICS.values():
            raw = sum(t["sql"].get(key, 0) for t in tasks)
            out[key] = raw / 1e6 if key.endswith("_mb_sent") or key.endswith("_mb_recv") else raw / 1e3
        return out

    def join_output_rows(self, gid: str, *keys: str) -> int:
        """Summed "number of output rows" of the join nodes whose plan
        string names every one of ``keys`` as a column, in span ``gid``."""
        ids = {
            aid for aid, (node, text, metric) in self.accums.items()
            if "Join" in node and metric == "number of output rows"
            and all(f"{k}#" in text for k in keys)
        }
        return sum(t["accums"].get(a, 0) for t in self.group_tasks(gid) for a in ids)


def _task(e: dict) -> dict:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    sql, accums = defaultdict(int), {}
    for a in info.get("Accumulables", []):
        if a.get("Metadata") != "sql" or a.get("Update") is None:
            continue
        v = int(a["Update"])
        accums[a["ID"]] = v
        key = PY_METRICS.get(a.get("Name"))
        if key:
            sql[key] += v
    return {
        "dur_ms": info["Finish Time"] - info["Launch Time"],
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_b": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        "spill_b": m.get("Disk Bytes Spilled", 0),
        "sql": sql,
        "accums": accums,
    }


def covered_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, edge = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, edge), min(b, hi)
        if b > a:
            total += b - a
            edge = b
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> duration minus the part its children cover."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: s["end"] - s["start"] - covered_s(kids[s["id"]], s["start"], s["end"])
        for s in spans
    }
