"""Behavioral tests for the kafka_wire streaming source (S3/S4 option
parity over files — VERDICT r10 ask #6): startingOffsets semantics,
maxOffsetsPerTrigger micro-batch boundaries, failOnDataLoss's dual
contract. These test the SEMANTICS the config strings in
sources/kafka.py promise, not just their spelling."""

from __future__ import annotations

import pytest

from db_cdc_poc_spark.sources.kafka_wire import (
    append_records,
    prune_segments,
    register,
)


def _recs(n, start=0, part=0):
    return [(f"k{part}-{i}", f"v{part}-{i}", 1_000_000 * i) for i in range(start, start + n)]


def _drain(spark, path, collected, **opts):
    """Run the stream with foreachBatch until idle; collected gets one
    (epoch, sorted rows) entry per non-empty micro-batch. The
    checkpoint sits beside the log dir."""
    register(spark)
    reader = spark.readStream.format("kafka_wire").option("path", path)
    for k, v in opts.items():
        reader = reader.option(k, v)

    def sink(batch, epoch):
        rows = [
            (r.partition, r.offset, r.key, r.value, r.topic)
            for r in batch.collect()
        ]
        if rows:
            collected.append((epoch, sorted(rows)))

    q = (
        reader.load()
        .writeStream.foreachBatch(sink)
        .trigger(processingTime="50 milliseconds")
        .option("checkpointLocation", f"{path}_ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def test_starting_offsets_earliest_reads_history(spark, tmp_path):
    path = str(tmp_path / "wire_e")
    append_records(path, 0, _recs(5))
    got: list = []
    _drain(spark, path, got, startingOffsets="earliest")
    rows = [r for _, batch in got for r in batch]
    assert [o for _, o, *_ in rows] == [0, 1, 2, 3, 4]
    assert rows[0][2] == "k0-0" and rows[0][3] == "v0-0"
    # topic defaults to the log dir's name
    assert {r[4] for r in rows} == {path.rsplit("/", 1)[-1]}


def test_starting_offsets_latest_skips_history(spark, tmp_path):
    path = str(tmp_path / "wire_l")
    append_records(path, 0, _recs(5))
    got: list = []
    _drain(spark, path, got, startingOffsets="latest")
    assert got == []  # pre-start records never read


def test_starting_offsets_explicit_json(spark, tmp_path):
    path = str(tmp_path / "wire_j")
    append_records(path, 0, _recs(6))
    append_records(path, 1, _recs(4, part=1))
    got: list = []
    # partition 0 from offset 4; partition 1 unnamed -> earliest
    _drain(spark, path, got, startingOffsets='{"0": 4}')
    rows = [r for _, batch in got for r in batch]
    assert sorted((p, o) for p, o, *_ in rows) == [
        (0, 4), (0, 5), (1, 0), (1, 1), (1, 2), (1, 3),
    ]


def test_max_offsets_per_trigger_proportional_split(spark, tmp_path):
    """Cap 6 against lags (8, 4): batch 1 takes floor(8*6/12)=4 from
    p0 and floor(4*6/12)=2 from p1; the remaining lag (4, 2) fits the
    cap, so batch 2 drains it — the Kafka connector's proportional
    rate-limit shape, observed at real micro-batch boundaries."""
    path = str(tmp_path / "wire_m")
    append_records(path, 0, _recs(8))
    append_records(path, 1, _recs(4, part=1))
    got: list = []
    _drain(
        spark, path, got,
        startingOffsets="earliest", maxOffsetsPerTrigger="6",
    )
    per_batch = [
        sorted((p, o) for p, o, *_ in batch) for _, batch in got
    ]
    assert per_batch == [
        [(0, 0), (0, 1), (0, 2), (0, 3), (1, 0), (1, 1)],
        [(0, 4), (0, 5), (0, 6), (0, 7), (1, 2), (1, 3)],
    ]


def test_fail_on_data_loss_false_skips_to_earliest(spark, tmp_path):
    path = str(tmp_path / "wire_s")
    append_records(path, 0, _recs(3))          # segment [0, 3)
    append_records(path, 0, _recs(3, start=3))  # segment [3, 6)
    assert prune_segments(path, 0, upto=3) == 1  # retention drops [0,3)
    got: list = []
    _drain(
        spark, path, got,
        startingOffsets='{"0": 0}', failOnDataLoss="false",
    )
    rows = [o for _, batch in got for _, o, *_ in batch]
    assert rows == [3, 4, 5]  # skipped the pruned range, no crash


def test_fail_on_data_loss_true_aborts(spark, tmp_path):
    path = str(tmp_path / "wire_f")
    append_records(path, 0, _recs(3))
    append_records(path, 0, _recs(3, start=3))
    prune_segments(path, 0, upto=3)
    got: list = []
    with pytest.raises(Exception) as ei:
        _drain(
            spark, path, got,
            startingOffsets='{"0": 0}', failOnDataLoss="true",
        )
    assert "DataLossError" in str(ei.value) or "pruned" in str(ei.value)
    assert got == []


def test_restart_resumes_from_checkpoint_exactly_once(spark, tmp_path):
    """T6 over the wire shape: stop, append more, restart on the SAME
    checkpoint — the resumed stream reads only the new offsets."""
    register(spark)
    path = str(tmp_path / "wire_r")
    ckpt = str(tmp_path / "ckpt_wire_r")
    append_records(path, 0, _recs(4))
    seen: list = []

    def run_once():
        q = (
            spark.readStream.format("kafka_wire")
            .option("path", path)
            .option("startingOffsets", "earliest")
            .load()
            .writeStream.foreachBatch(
                lambda b, e: seen.extend(
                    (r.partition, r.offset) for r in b.collect()
                )
            )
            .trigger(processingTime="50 milliseconds")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    assert sorted(seen) == [(0, o) for o in range(4)]
    append_records(path, 0, _recs(3, start=4))
    run_once()
    assert sorted(seen) == [(0, o) for o in range(7)]  # no re-reads
