"""Spans for the traced run, timed from the benchmark's own code around
calls into the package's public functions.

* ``Tracer.span`` records (name, parent, start, end) in memory and sets
  a Spark job group for its extent, so jobs fired while a DataFrame is
  still being built are charged to the layer that fired them. Jobs of
  streaming queries run under the query's own group and are charged to
  the innermost span open when they were submitted.
* ``ProgressCollector`` is a ``StreamingQueryListener`` keeping every
  ``StreamingQueryProgress`` (per-trigger phase durations, state rows).
* Task metrics come from Spark's own event log (``spark.eventLog.*``,
  set by the launcher for traced runs only), read after the session
  stops: per span, jobs, tasks, task time, GC time, shuffle bytes
  written and bytes spilled, including those of its child spans.

A disabled tracer does nothing: no job groups, no listener, no log.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql.streaming.listener import StreamingQueryListener

GROUP_PREFIX = "perfbench-span-"
SPARK_STATS = ("jobs", "tasks", "task_s", "gc_s", "shuffle_write_mb", "spill_mb")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    stats: dict[str, float] = field(default_factory=lambda: dict.fromkeys(SPARK_STATS, 0.0))

    @property
    def seconds(self) -> float:
        return self.end - self.start


class ProgressCollector(StreamingQueryListener):
    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        # a traced run interleaves traced and untraced operations
        self.active = True
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self.listener: ProgressCollector | None = None
        if enabled:
            self.listener = ProgressCollector()
            spark.streams.addListener(self.listener)

    @property
    def recording(self) -> bool:
        return self.enabled and self.active

    @contextmanager
    def span(self, name: str):
        if not self.recording:
            yield None
            return
        sc = self.spark.sparkContext
        s = Span(len(self.spans), name, self._open[-1].id if self._open else None, time.time())
        self.spans.append(s)
        self._open.append(s)
        sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{s.id}")
        sc.setLocalProperty("spark.job.description", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            parent = self._open[-1] if self._open else None
            sc.setLocalProperty(
                "spark.jobGroup.id", f"{GROUP_PREFIX}{parent.id}" if parent else None
            )
            sc.setLocalProperty("spark.job.description", parent.name if parent else None)

    def wait_for_progress(self, expected_min: int, timeout: float = 10.0) -> None:
        """Listener events arrive asynchronously; wait until at least
        ``expected_min`` have been delivered, then for the bus to go
        quiet."""
        if self.listener is None:
            return
        deadline = time.time() + timeout
        last = -1
        while time.time() < deadline:
            n = len(self.listener.progress)
            if n >= expected_min and n == last:
                return
            last = n
            time.sleep(0.25)

    def close(self) -> None:
        if self.listener is not None:
            self.spark.streams.removeListener(self.listener)

    # -- event-log attribution --------------------------------------------

    def charge_event_log(self, log_dir: Path) -> None:
        """Add each job's task metrics to the span that fired it and to
        every enclosing span."""
        by_id = {s.id: s for s in self.spans}
        stage_job: dict[int, int] = {}
        job_span: dict[int, Span | None] = {}
        per_stage: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_STATS, 0.0))
        for path in sorted(log_dir.iterdir()):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        job = ev["Job ID"]
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        if group.startswith(GROUP_PREFIX):
                            span = by_id.get(int(group[len(GROUP_PREFIX):]))
                        else:
                            span = self._innermost_at(ev["Submission Time"] / 1000.0)
                        job_span[job] = span
                        for st in ev["Stage IDs"]:
                            stage_job.setdefault(st, job)
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics") or {}
                        acc = per_stage[ev["Stage ID"]]
                        acc["tasks"] += 1
                        acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                        acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                        acc["shuffle_write_mb"] += (
                            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                            / 2**20
                        )
                        acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
        for job, span in job_span.items():
            for s in self._lineage(span):
                s.stats["jobs"] += 1
        for stage, acc in per_stage.items():
            for s in self._lineage(job_span.get(stage_job.get(stage, -1))):
                for k in ("tasks", "task_s", "gc_s", "shuffle_write_mb", "spill_mb"):
                    s.stats[k] += acc[k]

    def _innermost_at(self, t: float) -> Span | None:
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    def _lineage(self, span: Span | None):
        while span is not None:
            yield span
            span = self.spans[span.parent] if span.parent is not None else None

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def top(self, span: Span) -> Span:
        """The outermost span enclosing ``span`` (itself if none)."""
        while span.parent is not None:
            span = self.spans[span.parent]
        return span

    def totals(self, name: str) -> list[Span]:
        """Spans named ``name``, summed per operation: instances inside
        one ``op`` span add up; instances outside any op stand alone."""
        merged: dict[int, Span] = {}
        for s in self.by_name(name):
            top = self.top(s)
            key = top.id if top.name == "op" else s.id
            if key not in merged:
                merged[key] = Span(key, name, None, 0.0, 0.0)
            m = merged[key]
            m.end += s.seconds
            for k, v in s.stats.items():
                m.stats[k] += v
        return list(merged.values())
