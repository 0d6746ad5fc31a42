"""Attribution of event-log task metrics to the benchmark's spans."""

from __future__ import annotations

import json

from tracing import GROUP_PREFIX, Span, Tracer


def _tracer_with(spans: list[Span]) -> Tracer:
    t = Tracer(spark=None, enabled=False)  # attribution needs no session
    t.spans = spans
    return t


def _task(stage: int, run_ms: int, gc_ms: int, shuffle: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Disk Bytes Spilled": 0,
        },
    }


def test_jobs_charge_their_group_span_and_its_ancestors_or_the_open_span(tmp_path):
    op = Span(0, "op", None, 100.0, 110.0)
    drain = Span(1, "drain", 0, 101.0, 104.0)
    gold = Span(2, "gold", 0, 104.0, 109.0)
    events = [
        # fired under the gold span's job group
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 105_000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": f"{GROUP_PREFIX}2"}},
        _task(0, 1000, 100, 2**20),
        _task(1, 500, 0),
        # a streaming query's job: its own group, submitted while the drain is open
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 102_000,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "query-run-id"}},
        _task(2, 2000, 400),
        # a later job listing the reused stage 0 ran none of its tasks
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 200_000,
         "Stage IDs": [0, 3], "Properties": {}},
        _task(3, 7000, 0),
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    t = _tracer_with([op, drain, gold])
    t.charge_event_log(tmp_path)
    assert gold.stats["jobs"] == 1 and gold.stats["tasks"] == 2
    assert gold.stats["task_s"] == 1.5 and gold.stats["gc_s"] == 0.1
    assert gold.stats["shuffle_write_mb"] == 1.0
    assert drain.stats["jobs"] == 1 and drain.stats["task_s"] == 2.0
    assert op.stats["jobs"] == 2 and op.stats["task_s"] == 3.5 and op.stats["gc_s"] == 0.5


def test_totals_sum_spans_within_an_operation():
    spans = [
        Span(0, "op", None, 0.0, 10.0),
        Span(1, "step", 0, 1.0, 2.0),
        Span(2, "step", 0, 3.0, 6.0),
        Span(3, "op", None, 20.0, 30.0),
        Span(4, "step", 3, 21.0, 22.5),
        Span(5, "step", None, 40.0, 41.0),  # outside any operation
    ]
    t = _tracer_with(spans)
    assert sorted(s.seconds for s in t.totals("step")) == [1.0, 1.5, 4.0]
