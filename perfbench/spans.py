"""Spans around calls into the engine's layers, and their Spark job metrics.

With tracing off a span only yields, so the timed path carries no extra
work. With tracing on, each span tags the jobs it launches with its own
``setJobGroup`` id, counts them through ``statusTracker`` when it ends, and
after the session stops the uncompressed event log gives each job's task
metrics (run time, GC, shuffle, spill, input bytes), which are attributed
to the span that owns the job group.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

TASK_FIELDS = ("tasks", "task_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
               "bytes_read")


class Tracer:
    """Records spans in memory; ``enabled=False`` makes every span free."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._seq = 0

    @contextmanager
    def span(self, layer: str, name: str, req: int | None = None):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._seq += 1
        sid = f"pb-{self._seq}"
        parent = self._stack[-1] if self._stack else None
        sc.setJobGroup(sid, f"{layer}:{name}")
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            jobs = list(sc.statusTracker().getJobIdsForGroup(sid))
            if parent is not None:
                sc.setJobGroup(parent, "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append({"id": sid, "parent": parent, "layer": layer,
                               "name": name, "req": req, "start": start,
                               "end": end, "jobs": jobs})

    def attribute(self, event_log_dir: str) -> None:
        """Add event-log task metrics and stage counts to every span."""
        per_group = parse_event_log(event_log_dir)
        for s in self.spans:
            s.update(per_group.get(s["id"], {}))

    def self_times(self) -> dict[str, float]:
        """Per layer: span time minus the time its child spans cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur = 0.0, None
            for a, b in sorted(children[s["id"]]):
                if cur is None or a > cur[1]:
                    if cur is not None:
                        covered += cur[1] - cur[0]
                    cur = [a, b]
                else:
                    cur[1] = max(cur[1], b)
            if cur is not None:
                covered += cur[1] - cur[0]
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def parse_event_log(event_log_dir: str) -> dict[str, dict]:
    """Job-group id -> summed task metrics, stage and job counts.

    Reads every finished (uncompressed, non-rolling) log in the dir; the
    session must be stopped first so the listener bus has flushed it."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(
        ("stages", *TASK_FIELDS), 0))
    for name in sorted(os.listdir(event_log_dir)):
        with open(os.path.join(event_log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                        out[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = out[group]
                    g["tasks"] += 1
                    g["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
                    g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    g["bytes_read"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    return dict(out)


def rollup(spans: list[dict], match) -> dict:
    """Sum duration, job count and task metrics over the spans ``match``
    accepts, plus the number of such spans."""
    acc = dict.fromkeys(("n", "s", "jobs", "stages", *TASK_FIELDS), 0)
    for s in spans:
        if match(s):
            acc["n"] += 1
            acc["s"] += s["end"] - s["start"]
            acc["jobs"] += len(s["jobs"])
            for k in ("stages", *TASK_FIELDS):
                acc[k] += s.get(k, 0)
    return acc
