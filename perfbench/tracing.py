"""Spans around layer calls, and engine counts from Spark's event log.

A span is (name, parent, start, end).  Spans live in memory and are
written once at the end of a traced run.  While a span is open its name
is the Spark job group of the calling thread, so the event log can be
grouped by it.  Jobs submitted from other threads (a streaming query's
``foreachBatch`` runs on a callback thread and carries no benchmark job
group) are given to the innermost span whose interval holds their
submission time.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

JOB_GROUP = "spark.jobGroup.id"

# spans whose engine counts are reported (the order of the metric list)
ENGINE_SPANS = (
    "records",
    "block",
    "block.domain",
    "block.lsh",
    "compare",
    "compare.join",
    "compare.jaccard",
    "compare.lev",
    "compare.jw",
    "em",
    "score",
    "cc",
    "incr.batch",
)


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        if parent is None and self._open:
            parent = self._open[-1].name
        sp = Span(name, parent, time.time())
        prev_group = self.sc.getLocalProperty(JOB_GROUP)
        self.sc.setLocalProperty(JOB_GROUP, name)
        self._open.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._open.pop()
            self.sc.setLocalProperty(JOB_GROUP, prev_group)
            self.spans.append(sp)

    def seconds(self, name: str) -> float:
        """Total wall time of all spans with this name."""
        return sum(s.seconds for s in self.spans if s.name == name)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans], indent=1))


def _read_events(eventlog_dir: Path):
    """Events of the one application logged under ``eventlog_dir``,
    whether as a single file or as rolled ``events_<n>_<app>`` files."""
    def order(p: Path):
        parts = p.name.split("_")
        return int(parts[1]) if parts[0] == "events" else 0

    files = sorted(
        (p for p in eventlog_dir.rglob("*") if p.is_file() and not p.name.startswith(("appstatus", "."))),
        key=order,
    )
    if not files:
        raise RuntimeError(f"no event log under {eventlog_dir}")
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def engine_counts(eventlog_dir: Path, spans: list[Span], cores: int) -> dict:
    """Per-span task counts, task time, busy fraction (task time over
    span wall × cores), shuffle bytes written, bytes spilled to disk,
    GC share of task time and failed tasks; plus the number of jobs
    ``cc`` ran.  Read
    after the SparkContext has stopped, when the log is complete."""
    names = {s.name for s in spans}
    by_start = sorted(spans, key=lambda s: s.start)

    def span_at(t: float) -> str | None:
        inner = None
        for s in by_start:
            if s.start <= t <= s.end:
                inner = s  # later starts are nested deeper
        return inner.name if inner else None

    stage_span: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in _read_events(eventlog_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(JOB_GROUP)
            name = group if group in names else span_at(ev["Submission Time"] / 1000.0)
            if name is None:
                continue
            jobs[name] += 1
            for sid in ev.get("Stage IDs", []):
                stage_span.setdefault(sid, name)
        elif kind == "SparkListenerTaskEnd":
            name = stage_span.get(ev["Stage ID"])
            if name is None:
                continue
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            a = acc[name]
            a["tasks"] += 1
            a["task_s"] += (info["Finish Time"] - info["Launch Time"]) / 1000.0
            a["failed_tasks"] += 1 if info.get("Failed") else 0
            a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )

    wall = defaultdict(float)
    for s in spans:
        wall[s.name] += s.seconds
    out = {}
    for name in ENGINE_SPANS:
        a = acc[name]
        out[f"{name}.tasks"] = (a["tasks"], "count")
        out[f"{name}.task_s"] = (a["task_s"], "s")
        busy = a["task_s"] / (wall[name] * cores) if wall[name] else 0.0
        out[f"{name}.busy_frac"] = (busy, "ratio")
        out[f"{name}.shuffle_write_bytes"] = (a["shuffle_write_bytes"], "bytes")
        out[f"{name}.spill_bytes"] = (a["spill_bytes"], "bytes")
        gc = a["gc_s"] / a["task_s"] if a["task_s"] else 0.0
        out[f"{name}.gc_frac"] = (gc, "ratio")
        out[f"{name}.failed_tasks"] = (a["failed_tasks"], "count")
    out["cc.jobs"] = (jobs["cc"], "count")
    return out
