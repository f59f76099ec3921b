"""Spans recorded around calls into the program's layers, and the Spark
counters of each span read back from Spark's event log.

Every span runs its Spark jobs under a job group of its own
(``<pass>:<name>#<id>``), so the event log attributes each job, stage and
task to exactly one span. Spans stay in memory until the run writes them
out at its end.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder for one process. ``start_pass`` names the pass the
    next spans belong to."""

    def __init__(self, spark):
        self.spark = spark
        self.tag = ""
        self.spans: list[dict] = []
        self.counts: dict[str, list[int]] = {}
        self._open: list[int] = []

    def start_pass(self, tag: str) -> None:
        self.tag = tag
        self._set_group()

    def _set_group(self) -> None:
        sc = self.spark.sparkContext
        if self._open:
            top = self.spans[self._open[-1]]
            sc.setJobGroup(top["group"], top["name"])
        else:
            sc.setJobGroup(f"{self.tag}:untraced", "untraced")

    def begin(self, name: str) -> None:
        sid = len(self.spans)
        self.spans.append({
            "id": sid,
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "pass": self.tag,
            "group": f"{self.tag}:{name}#{sid}",
            "start": time.time(),
        })
        self._open.append(sid)
        self._set_group()

    def end(self) -> None:
        self.spans[self._open.pop()]["end"] = time.time()
        self._set_group()

    @contextmanager
    def span(self, name: str):
        self.begin(name)
        try:
            yield
        finally:
            self.end()

    def frame(self, name: str, build):
        """Build a layer's output inside span ``name`` and materialise it
        there, so later spans start from stored rows."""
        with self.span(name):
            return build().localCheckpoint(eager=True)

    def count(self, name: str, df) -> None:
        """Record the row count of a materialised frame (outside any span's
        timing: it runs under the ``trace.count`` span)."""
        with self.span("trace.count"):
            self.counts.setdefault(name, []).append(df.count())

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages (skipped included), tasks, task CPU and
    GC seconds, shuffle-write and disk-spill MB, and task intervals
    (epoch ms), from the one application log in ``log_dir``."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def group(g: str) -> dict:
        return groups.setdefault(g, {
            "jobs": 0, "stages": set(), "tasks": 0, "task_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "intervals": [],
        })

    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                rec = group(g)
                rec["jobs"] += 1
                rec["stages"].update(ev["Stage IDs"])
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                rec = group(stage_group.get(ev["Stage ID"], "none"))
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                rec["tasks"] += 1
                rec["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                rec["shuffle_write_mb"] += (
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
                )
                rec["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
                rec["intervals"].append((info["Launch Time"], info["Finish Time"]))
    for rec in groups.values():
        rec["stages"] = len(rec["stages"])
    return groups


def busy_s(intervals: list[tuple[int, int]], lo_ms: float, hi_ms: float) -> float:
    """Seconds of [lo_ms, hi_ms] during which at least one task ran."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo_ms), min(b, hi_ms)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return covered / 1e3
