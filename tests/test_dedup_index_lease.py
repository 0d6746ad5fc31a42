"""Multi-writer contract for the streaming dedup index (VERDICT r11
ask #4): a second concurrent appender is DETECTED AND REFUSED, a
displaced writer is FENCED before it can append, and the sequential
patterns every existing soak exercises (re-fires, resumed instances)
still work unchanged. The same contract holds for the other
``BucketedStateTable`` writers (CDC target, incremental gold), and the
lease file itself refuses corruption and reclaims atomically."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from db_cdc_poc_spark.streaming.dedup_index import StreamingDedupIndex
from db_cdc_poc_spark.streaming.lease import (
    ConcurrentWriterError,
    WriterFencedError,
    WriterLease,
)


def _docs(spark, ids_texts):
    return spark.createDataFrame(ids_texts, "doc_id long, text string")


def _mk(path, **kw):
    return StreamingDedupIndex(
        path, num_hashes=16, bands=4, threshold=0.5, num_buckets=4,
        compact_every=None, **kw,
    )


def test_second_concurrent_writer_refused(spark, tmp_path):
    path = str(tmp_path / "ix")
    a = _mk(path)
    b = _mk(path)
    a.acquire_writer_lease()  # long-lived ingest loop holds the lease
    a.process_batch(_docs(spark, [(1, "alpha beta gamma delta eps")]))
    with pytest.raises(ConcurrentWriterError):
        b.process_batch(_docs(spark, [(2, "zeta eta theta iota kappa")]))
    with pytest.raises(ConcurrentWriterError):
        b.acquire_writer_lease()
    a.release_writer_lease()
    # after release, b proceeds normally
    out = b.process_batch(_docs(spark, [(2, "zeta eta theta iota kappa")]))
    assert out.count() == 1


def test_forced_takeover_fences_displaced_writer(spark, tmp_path):
    path = str(tmp_path / "ix")
    a = _mk(path)
    b = _mk(path)
    a.acquire_writer_lease()
    b.acquire_writer_lease(force=True)  # operator override
    # a's next mutating call must abort BEFORE appending
    with pytest.raises(WriterFencedError):
        a.process_batch(_docs(spark, [(1, "alpha beta gamma delta eps")]))
    # and the index holds only b's subsequent work
    b.process_batch(_docs(spark, [(2, "zeta eta theta iota kappa")]))
    bands = a.state.state_for(spark)
    assert {r.id for r in bands.select("id").distinct().collect()} == {2}
    b.release_writer_lease()


def test_sequential_writers_and_refires_unaffected(spark, tmp_path):
    """The existing soak patterns: per-batch transient acquire/release
    means resumed instances and sequential re-fires never block."""
    path = str(tmp_path / "ix")
    first = _mk(path)
    first.process_batch(_docs(spark, [(1, "alpha beta gamma delta eps")]))
    resumed = _mk(path)  # new instance, same process — no explicit release
    out = resumed.process_batch(_docs(spark, [(2, "alpha beta gamma delta eps")]))
    rows = {r.id: r.is_novel for r in out.collect()}
    assert rows == {2: False}  # still probes first's index state


def test_lease_reclaim_after_ttl(tmp_path):
    now = [0.0]
    a = WriterLease(tmp_path / "lease.json", ttl=10.0, clock=lambda: now[0])
    b = WriterLease(tmp_path / "lease.json", ttl=10.0, clock=lambda: now[0])
    # simulate a vanished remote holder: a's pid looks alive locally,
    # so hand-edit the state to a foreign host (pid probing impossible)
    t_a = a.acquire()
    state = a.read_state()
    a._write({**state, "host": "other-host", "pid": 1})
    now[0] = 5.0
    with pytest.raises(ConcurrentWriterError):
        b.acquire()
    now[0] = 10.0  # TTL elapsed
    t_b = b.acquire()
    assert t_b == t_a + 1  # fencing token advanced
    with pytest.raises(WriterFencedError):
        a.check()


def test_dead_holder_reclaimed_same_host(tmp_path):
    a = WriterLease(tmp_path / "lease.json", ttl=1e9)
    a.acquire()
    state = a.read_state()
    a._write({**state, "pid": 2**22 + 12345})  # nonexistent pid
    b = WriterLease(tmp_path / "lease.json", ttl=1e9)
    b.acquire()  # no error: holder provably dead
    with pytest.raises(WriterFencedError):
        a.check()


# -- the BucketedStateTable writers and the lease file itself ------------------


def test_double_fired_cdc_writer_refused_and_fenced(spark, tmp_path):
    """VERDICT r12 ask #5, mirroring test_dedup_index_lease.py: the
    streaming CDC apply target's state table enforces its single-writer
    contract — a second concurrent appender is refused while the lease
    is held, and a displaced writer aborts BEFORE committing."""
    import pytest

    from db_cdc_poc_spark.streaming.cdc import CdcTarget
    from db_cdc_poc_spark.streaming.lease import (
        ConcurrentWriterError,
        WriterFencedError,
    )

    path = str(tmp_path / "cdc_state")
    a = CdcTarget(path, keys="k", sequence_by="seq")
    b = CdcTarget(path, keys="k", sequence_by="seq")

    def batch(rows):
        return spark.createDataFrame(rows, "k long, seq long, v string")

    a.state.lease.acquire()  # long-lived ingest loop holds the lease
    a.upsert_batch(batch([(1, 1, "a1")]))
    with pytest.raises(ConcurrentWriterError):
        b.upsert_batch(batch([(2, 1, "b1")]))  # double-fired writer
    # operator override fences the displaced writer before it commits
    b.state.lease.acquire(force=True)
    with pytest.raises(WriterFencedError):
        a.upsert_batch(batch([(3, 1, "a2")]))
    b.upsert_batch(batch([(2, 1, "b1")]))
    b.state.lease.release()
    got = {r.k for r in a.current(spark).collect()}
    assert got == {1, 2}  # a's fenced row 3 never landed


def test_incremental_gold_writer_leased(spark, tmp_path):
    import pytest

    from db_cdc_poc_spark.streaming.gold import IncrementalGold
    from db_cdc_poc_spark.streaming.lease import ConcurrentWriterError

    snap = spark.createDataFrame(
        [("s1", "i1", 5, "2024-01-01 00:00:00")],
        "store_id string, item_id string, quantity int, date_time_ts string",
    ).withColumn("date_time_ts", F.to_timestamp("date_time_ts"))
    gold = IncrementalGold(str(tmp_path / "gold"), snap)
    other = gold.table.lease.__class__(gold.table.lease.path)
    other.acquire()
    changes = spark.createDataFrame(
        [("s1", "i1", 3, "2024-01-02 00:00:00")],
        "store_id string, item_id string, quantity int, date_time string",
    ).withColumn("date_time", F.to_timestamp("date_time"))
    with pytest.raises(ConcurrentWriterError):
        gold.apply_changes_batch(changes)
    other.release()
    gold.apply_changes_batch(changes)  # proceeds after release
    [row] = gold.current(spark).collect()
    assert row.current_inventory == 8


def test_corrupt_lease_file_refused_loudly(tmp_path):
    import pytest

    from db_cdc_poc_spark.streaming.lease import LeaseCorruptError, WriterLease

    lease_path = tmp_path / "lease.json"
    a = WriterLease(lease_path)
    a.acquire()
    a.release()
    lease_path.write_text("{not json")
    b = WriterLease(lease_path)
    with pytest.raises(LeaseCorruptError):
        b.acquire()
    with pytest.raises(LeaseCorruptError):
        b.read_state()


def test_expired_lease_reclaim_is_atomic(tmp_path):
    """ADVICE r12: two writers that concurrently see the same expired
    lease must not BOTH win token N+1 — the flock mutex serializes the
    read-modify-write, so exactly one reclaims and the other sees the
    fresh live holder."""
    import threading

    from db_cdc_poc_spark.streaming.lease import (
        ConcurrentWriterError,
        WriterLease,
    )

    lease_path = tmp_path / "lease.json"
    seed = WriterLease(lease_path, ttl=1e9)
    t0 = seed.acquire()
    # hand-expire on a foreign host (pid probing impossible there)
    seed._write({**seed.read_state(), "host": "other", "pid": 1,
                 "acquired_at": 0.0, "ttl": 1.0})

    results: list[tuple[str, object]] = []
    barrier = threading.Barrier(2)

    def contender(name):
        lease = WriterLease(lease_path, ttl=1e9)
        barrier.wait()
        try:
            results.append((name, lease.acquire()))
        except ConcurrentWriterError:
            results.append((name, "refused"))

    threads = [threading.Thread(target=contender, args=(n,)) for n in "xy"]
    [t.start() for t in threads]
    [t.join() for t in threads]
    outcomes = [v for _, v in results]
    tokens = [v for v in outcomes if isinstance(v, int)]
    assert tokens == [t0 + 1]  # exactly ONE winner, one token advance
    assert outcomes.count("refused") == 1
