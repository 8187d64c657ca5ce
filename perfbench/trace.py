"""Spans around the benchmark's calls into the package, and the Spark
event log read back per layer.

A span records name, start, end, parent and run id. Spans are kept in
memory and written into the run's record at the end. While a span is
open its name is the Spark job group, so every job the wrapped call
starts is tagged with the call that caused it. ``NullTracer`` is the same
interface with tracing off: the timed runs and the traced run execute
one code path.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from perfbench.stats import median


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    counts: dict = field(default_factory=dict)


class NullTracer:
    """Tracing off: spans cost nothing and nothing is materialized."""

    def span(self, name: str):
        return nullcontext()

    def materialize(self, df) -> None:
        return None

    def count(self, name: str, value) -> None:
        pass


class Tracer(NullTracer):
    """Tracing on. ``span`` nests; ``materialize`` forces a frame inside
    the current span so its work is charged to that layer."""

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        self.sc.setJobGroup(name, f"{self.run_id}:{name}")
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]].name
                self.sc.setJobGroup(outer, f"{self.run_id}:{outer}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def materialize(self, df) -> int:
        return df.count()

    def count(self, name: str, value) -> None:
        self.spans[self._stack[-1]].counts[name] = value


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the union of its children's
    intervals (children of one span never overlap here, but the union
    keeps the definition exact if they did)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_end = 0.0, s.start
        for c in sorted(children[i], key=lambda c: c.start):
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out.append((s.end - s.start) - covered)
    return out


def event_log_file(log_dir: str) -> str:
    """The single uncompressed, non-rolling event log the session wrote."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def read_event_log(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def layer_task_metrics(events: list[dict], spans: list[Span]) -> dict[str, dict]:
    """Per span name (job group): jobs, stages, executor CPU and GC
    seconds, shuffle and spill bytes, records read by file scans (only
    in the stages :func:`file_scan_stages` finds), and task skew.

    A job belongs to the group it was submitted under; a job with no
    group (one started on a thread the tracer does not own, such as a
    streaming micro-batch) goes to the innermost span whose interval
    holds its submission time.
    """
    names = {s.name for s in spans}
    scan_stages = file_scan_stages(events)
    stage_layer: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    stages: dict[str, set] = defaultdict(set)
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        group = (e.get("Properties") or {}).get("spark.jobGroup.id")
        if group not in names:
            group = _innermost(spans, e.get("Submission Time", 0) / 1000.0)
        if group is None:
            continue
        jobs[group] += 1
        for sid in e.get("Stage IDs", []):
            stage_layer.setdefault(sid, group)
    acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    task_times: dict[tuple, list] = defaultdict(list)
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        layer = stage_layer.get(e.get("Stage ID"))
        m = e.get("Task Metrics")
        if layer is None or not m:
            continue
        stages[layer].add(e["Stage ID"])
        a = acc[layer]
        a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        if e["Stage ID"] in scan_stages:
            a["scan_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
        task_times[(layer, e["Stage ID"])].append(m.get("Executor Run Time", 0))
    # 1.0 for a layer whose tasks are all even (or alone in their
    # stage), 0.0 for a layer that ran no tasks
    skew: dict[str, float] = {}
    for (layer, _), times in task_times.items():
        mid = median(times)
        ratio = max(times) / mid if len(times) > 1 and mid > 0 else 1.0
        skew[layer] = max(skew.get(layer, 1.0), ratio)
    out = {}
    for layer in names:
        a = acc.get(layer, {})
        out[layer] = {
            "jobs": jobs.get(layer, 0),
            "stages": len(stages.get(layer, ())),
            "executor_cpu_s": a.get("executor_cpu_s", 0.0),
            "gc_s": a.get("gc_s", 0.0),
            "shuffle_write_bytes": a.get("shuffle_write_bytes", 0.0),
            "shuffle_read_bytes": a.get("shuffle_read_bytes", 0.0),
            "spill_bytes": a.get("spill_bytes", 0.0),
            "scan_records": a.get("scan_records", 0.0),
            "task_skew": skew.get(layer, 0.0),
        }
    return out


def file_scan_stages(events: list[dict]) -> set[int]:
    """Stage ids of the stages that read input files.

    A stage's RDD Info lists its RDD and all narrow ancestors, so a
    stage that reads a persisted frame still lists the ``FileScanRDD``
    behind it, and its input records then count cached blocks. A stage
    scans files only when a ``FileScanRDD`` is reachable from its last
    RDD without passing a persisted RDD that an earlier stage already
    computed: that RDD's blocks are read from the cache. (The event log
    reports no cached-partition counts in stage infos, so "computed" is
    taken from the event order; this assumes cached blocks are not
    evicted, which holds for ``MEMORY_AND_DISK``.)
    """
    computed: set[int] = set()
    out: set[int] = set()
    for e in events:
        if e.get("Event") != "SparkListenerStageCompleted":
            continue
        info = e["Stage Info"]
        rdds = {r["RDD ID"]: r for r in info.get("RDD Info", [])}
        parents = {p for r in rdds.values() for p in r.get("Parent IDs", [])}
        stack = [i for i in rdds if i not in parents]
        reached: set[int] = set()
        while stack:
            i = stack.pop()
            if i in reached or i not in rdds:
                continue
            reached.add(i)
            if i in computed:
                continue
            if rdds[i]["Name"] == "FileScanRDD":
                out.add(info["Stage ID"])
            stack.extend(rdds[i].get("Parent IDs", []))
        computed.update(i for i in reached if _persisted(rdds[i]))
    return out


def _persisted(rdd_info: dict) -> bool:
    level = rdd_info.get("Storage Level") or {}
    return bool(level.get("Use Memory") or level.get("Use Disk"))


def _innermost(spans: list[Span], t: float) -> str | None:
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best.name if best else None
