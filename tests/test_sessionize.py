"""Sessionization: batch window form vs the applyInPandasWithState
streaming fold. The streaming form must equal the batch form when each
user's events arrive across micro-batches in chronological order."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from db_cdc_poc_spark.operators.sessionize import session_summary, sessionize
from db_cdc_poc_spark.sources.testdata import load_table
from db_cdc_poc_spark.streaming.sessionize import stream_sessionize

from .conftest import SF_DIR


def test_sessionize_known_gaps(spark):
    rows = [
        (1, 10, "2024-01-01 10:00:00"),
        (1, 11, "2024-01-01 10:10:00"),   # same session (10 min)
        (1, 12, "2024-01-01 11:30:00"),   # new session (80 min gap)
        (2, 20, "2024-01-01 10:00:00"),   # separate user
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts_s string"
    ).select("user_id", "event_id", F.to_timestamp("ts_s").alias("ts"))
    got = {
        r.event_id: r.session_seq for r in sessionize(df, gap_seconds=1800).collect()
    }
    assert got == {10: 1, 11: 1, 12: 2, 20: 1}
    summary = {
        (r.user_id, r.session_seq): r.n_events
        for r in session_summary(df, gap_seconds=1800).collect()
    }
    assert summary == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def _stage_chronological(spark, base: str):
    """events staged as 3 time-ordered files (mtime-forced order)."""
    ev = load_table(spark, SF_DIR, "events").select("user_id", "event_id", "ts")
    # stage 3 files split at global time boundaries; force mtime order so
    # the file source drains them chronologically (one per micro-batch)
    lo, hi = ev.selectExpr(
        "percentile(unix_micros(ts), 0.33)", "percentile(unix_micros(ts), 0.66)"
    ).collect()[0]
    root = f"{base}/events"
    os.makedirs(root)
    parts = [
        ev.filter(F.unix_micros("ts") <= lo),
        ev.filter((F.unix_micros("ts") > lo) & (F.unix_micros("ts") <= hi)),
        ev.filter(F.unix_micros("ts") > hi),
    ]
    files = []
    for i, p in enumerate(parts):
        staging = f"{base}/staging{i}"
        p.coalesce(1).write.parquet(staging)
        [f] = [x for x in os.listdir(staging) if x.endswith(".parquet")]
        dst = f"{root}/{i:02d}.parquet"
        os.rename(f"{staging}/{f}", dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        files.append(dst)
    return root, files


def _assert_stream_matches_batch(spark, stream_fn, base: str):
    root, files = _stage_chronological(spark, base)
    got = {
        (r.user_id, r.event_id): r.session_seq
        for r in stream_fn(
            spark, root, gap_seconds=1800, max_files_per_trigger=1
        ).collect()
        if r.event_id is not None
    }
    want = {
        (r.user_id, r.event_id): r.session_seq
        for r in sessionize(
            spark.read.parquet(*files), gap_seconds=1800
        ).collect()
    }
    assert got == want


def test_stream_sessionize_matches_batch_across_chronological_batches(spark, tmp_path):
    _assert_stream_matches_batch(spark, stream_sessionize, str(tmp_path))


def test_sessionize_invariants_property(spark):
    # randomized invariant check: per user, session numbers start at 1
    # and are contiguous; consecutive events in one session are within
    # the gap; session boundaries exceed it
    import random

    rng = random.Random(42)
    rows = []
    eid = 0
    for user in range(20):
        t = 1_700_000_000_000_000  # epoch micros
        for _ in range(rng.randint(1, 40)):
            t += rng.choice([60, 600, 1200, 2000, 4000]) * 1_000_000
            rows.append((user, eid, t))
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, us long"
    ).select("user_id", "event_id", F.timestamp_micros("us").alias("ts"))
    out = sorted(
        ((r.user_id, r.ts, r.event_id, r.session_seq)
         for r in sessionize(df, gap_seconds=1800).collect()),
    )
    by_user = {}
    for user, ts, eid_, seq in out:
        by_user.setdefault(user, []).append((ts, seq))
    for user, seq_rows in by_user.items():
        seqs = [s for _, s in seq_rows]
        assert seqs[0] == 1
        assert all(b - a in (0, 1) for a, b in zip(seqs, seqs[1:])), user
        for (t0, s0), (t1, s1) in zip(seq_rows, seq_rows[1:]):
            gap = (t1 - t0).total_seconds()
            if s1 == s0:
                assert gap <= 1800, (user, gap)
            else:
                assert gap > 1800, (user, gap)

