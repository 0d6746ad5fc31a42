"""End-to-end streaming ingestion over the reference's own data:
CSV feeds -> replayed topic files -> streaming parse/dedup/CDC-apply ->
parity with the batch pipeline's silver tables. The first three tests
need no reference data: they replay synthetic feeds one file per
trigger."""

from __future__ import annotations

import time
from datetime import datetime, timedelta
from pathlib import Path

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from db_cdc_poc_spark import schemas
from db_cdc_poc_spark.operators.dedup import dedup_exact
from db_cdc_poc_spark.pipelines.inventory import build_inventory_pipeline
from db_cdc_poc_spark.pipelines.inventory_streaming import run_ingestion
from db_cdc_poc_spark.pipelines.replay import (
    cdc_docs,
    transaction_docs,
    write_topic_files,
)
from db_cdc_poc_spark.streaming.cdc import CdcTarget

T0 = datetime(2024, 3, 1)


def _synthetic_feeds(spark, hours: range):
    """Synthetic change and snapshot rows for ``hours`` after ``T0``:
    two stores a hour, 1-3 items a transaction, every tenth hour's
    transaction copied 2-13 h later in event time (the BOPIS shape the
    dedup must still drop), and one snapshot row a hour. Returns the
    change and snapshot frames and the snapshot tuples."""
    change, snaps = [], []
    for h in hours:
        for store in (1, 2):
            at = T0 + timedelta(hours=h, minutes=7 * store)
            tid = f"{{t{h:04d}-{store}}}"
            for item in range(1 + h % 3):
                row = (tid, 10 + item, store, at, 1 + item, 1 + h % 4)
                change.append(row)
                if h % 10 == 0:  # a later copy of the same transaction
                    change.append(
                        row[:3] + (at + timedelta(hours=2 + h % 12),) + row[4:]
                    )
        snaps.append((h % 5, 7, 1 + h % 2, T0 + timedelta(hours=h), h))
    change_df = spark.createDataFrame(change, schemas.INVENTORY_CHANGE_SCHEMA)
    snap_df = spark.createDataFrame(snaps, schemas.INVENTORY_SNAPSHOT_SCHEMA)
    return change_df, snap_df, snaps


def _latest_quantity(snaps) -> dict:
    latest = {}
    for item, _, store, at, qty in sorted(snaps, key=lambda r: r[3]):
        latest[(item, store)] = qty
    return latest


def _land(change_df, snap_df, topics: Path, load: str) -> None:
    """Land one load of both feeds as four more files in each topic
    directory, behind whatever files are already there."""
    for topic, docs in (
        ("events", transaction_docs(change_df)),
        ("cdc", cdc_docs(snap_df)),
    ):
        staged = write_topic_files(docs, str(topics / f"{load}_{topic}"), 4)
        (topics / topic).mkdir(exist_ok=True)
        for part in sorted(Path(staged).glob("part-*")):
            part.rename(topics / topic / f"{load}-{part.name}")


def test_one_file_triggers_keep_every_row(spark, tmp_path):
    """Topic files replayed one per trigger must lose no event to the
    dedup watermark: six days of synthetic change rows (with 2-13 h
    late BOPIS-style copies, which the dedup must still drop) stream to
    the same silver count as batch ``dedup_exact``, and the snapshot
    feed applies to the batch latest row per key."""
    change_df, snap_df, snaps = _synthetic_feeds(spark, range(6 * 24))

    root = str(tmp_path)
    out = run_ingestion(
        spark,
        write_topic_files(transaction_docs(change_df), f"{root}/events", 4),
        write_topic_files(cdc_docs(snap_df), f"{root}/cdc", 4),
        out_root=f"{root}/out",
        max_files_per_trigger=1,
    )
    assert (
        out["inventory_change"].count()
        == dedup_exact(change_df, ["trans_id", "item_id"]).count()
    )
    latest = _latest_quantity(snaps)
    assert {
        (r.item_id, r.store_id): r.quantity
        for r in out["inventory_snapshot"].collect()
    } == latest


def test_second_run_resumes_on_the_same_out_root(spark, tmp_path, monkeypatch):
    """Two calls on one ``out_root`` with a second load landing in
    between: the second call resumes on the checkpoints and the dedup
    state, so silver equals batch ``dedup_exact`` over both loads and
    every CDC row reaches ``CdcTarget.upsert_batch`` exactly once."""
    first = _synthetic_feeds(spark, range(3 * 24))
    second = _synthetic_feeds(spark, range(3 * 24, 6 * 24))
    applied = []
    upsert = CdcTarget.upsert_batch

    def counting_upsert(self, batch, epoch_id=None):
        applied.append(batch.count())
        upsert(self, batch, epoch_id)

    monkeypatch.setattr(CdcTarget, "upsert_batch", counting_upsert)
    topics, out_root = tmp_path / "topics", str(tmp_path / "out")

    def ingest():
        return run_ingestion(
            spark,
            str(topics / "events"),
            str(topics / "cdc"),
            out_root,
            max_files_per_trigger=1,
        )

    _land(first[0], first[1], topics, "load1")
    ingest()
    _land(second[0], second[1], topics, "load2")
    out = ingest()

    both = first[0].unionByName(second[0])
    batch = dedup_exact(both, ["trans_id", "item_id"])
    # replay strips the {braces}; batch keeps the CSV form
    assert sorted(
        (r.trans_id, r.item_id)
        for r in out["inventory_change"].select("trans_id", "item_id").collect()
    ) == sorted((r.trans_id[1:-1], r.item_id) for r in batch.collect())
    assert sum(applied) == len(first[2]) + len(second[2])
    assert {
        (r.item_id, r.store_id): r.quantity
        for r in out["inventory_snapshot"].collect()
    } == _latest_quantity(first[2] + second[2])


def test_failed_leg_stops_the_other(spark, tmp_path, monkeypatch):
    """The events leg fails on its first batch while the CDC leg is
    still busy: ``run_ingestion`` must raise AND leave no query running
    on its durable checkpoint."""
    from db_cdc_poc_spark.pipelines import inventory_streaming

    parse = inventory_streaming.parse_transaction_events
    monkeypatch.setattr(
        inventory_streaming,
        "parse_transaction_events",
        lambda raw: parse(raw).withColumn(
            "boom", F.raise_error(F.lit("injected leg failure")).cast("string")
        ),
    )
    monkeypatch.setattr(
        CdcTarget, "upsert_batch", lambda self, batch, epoch_id=None: time.sleep(4)
    )
    change_df, snap_df, _ = _synthetic_feeds(spark, range(2 * 24))
    _land(change_df, snap_df, tmp_path, "load1")
    try:
        with pytest.raises(StreamingQueryException, match="injected leg failure"):
            run_ingestion(
                spark,
                str(tmp_path / "events"),
                str(tmp_path / "cdc"),
                str(tmp_path / "out"),
                max_files_per_trigger=1,
            )
        assert spark.streams.active == []
    finally:
        for q in spark.streams.active:
            q.stop()


@pytest.fixture(scope="module")
def topics(spark, tmp_path_factory):
    reg = build_inventory_pipeline(spark)
    root = tmp_path_factory.mktemp("topics")
    events = write_topic_files(
        transaction_docs(reg.build("inventory_change_raw")), f"{root}/events", n_files=4
    )
    # snapshot feed, raw (pre latest-per-key): every upsert the CDC
    # stream would carry
    from db_cdc_poc_spark.pipelines.inventory import REFERENCE_1000
    from db_cdc_poc_spark.sources.files import read_csv

    snaps = read_csv(
        spark,
        [
            f"{REFERENCE_1000}/inventory_snapshot_store001_1000.txt",
            f"{REFERENCE_1000}/inventory_snapshot_online_1000.txt",
        ],
        schemas.INVENTORY_SNAPSHOT_SCHEMA,
        timestamp_format=schemas.POS_TIMESTAMP_FORMAT,
    )
    cdc = write_topic_files(cdc_docs(snaps), f"{root}/cdc", n_files=4)
    return {"events": events, "cdc": cdc, "registry": reg}


@pytest.fixture(scope="module")
def ingested(spark, topics, tmp_path_factory):
    return run_ingestion(
        spark,
        topics["events"],
        topics["cdc"],
        str(tmp_path_factory.mktemp("ingested")),
        max_files_per_trigger=2,
    )


def test_streamed_change_matches_batch_key_set(spark, topics, ingested):
    batch = topics["registry"].build("inventory_change")
    # replay strips the {braces} (reference 02:63); batch keeps the CSV form
    batch_keys = {
        (r.trans_id[1:-1], r.item_id)
        for r in batch.select("trans_id", "item_id").collect()
    }
    stream_keys = {
        (r.trans_id, r.item_id)
        for r in ingested["inventory_change"].select("trans_id", "item_id").collect()
    }
    assert stream_keys == batch_keys


def test_streamed_change_dedup_count(topics, ingested):
    # same cardinality as batch dedup: raw minus the 21 BOPIS dups
    assert (
        ingested["inventory_change"].count()
        == topics["registry"].build("inventory_change").count()
    )


def test_streamed_snapshot_matches_batch_latest_per_key(spark, topics, ingested):
    batch = {
        (r.item_id, r.store_id): (r.quantity, r.date_time_ts)
        for r in topics["registry"].build("inventory_snapshot").collect()
    }
    streamed = {
        (r.item_id, r.store_id): (r.quantity, r.date_time_ts)
        for r in ingested["inventory_snapshot"].collect()
    }
    assert streamed == batch


def test_streamed_gold_invariants(spark, topics, ingested):
    # rebuild gold from the STREAMED silver tables; cardinality and the
    # accounting invariant must hold exactly (survivor-dependent
    # date_times may differ on the 21 dup pairs; quantities cannot)
    reg = topics["registry"]
    snap = ingested["inventory_snapshot"].alias("a")
    changes = (
        ingested["inventory_change"].alias("x")
        .join(F.broadcast(reg.build("store").alias("y")), "store_id")
        .join(F.broadcast(reg.build("inventory_change_type").alias("z")), "change_type_id")
        .filter(~((F.col("y.name") == "online") & (F.col("z.change_type") == "bopis")))
        .select("store_id", "item_id", "date_time", "quantity")
        .alias("b")
    )
    gold = (
        snap.join(
            changes,
            (F.col("a.store_id") == F.col("b.store_id"))
            & (F.col("a.item_id") == F.col("b.item_id"))
            & (F.col("a.date_time_ts") <= F.col("b.date_time")),
            "left",
        )
        .groupBy(
            F.col("a.store_id").alias("store_id"),
            F.col("a.item_id").alias("item_id"),
            F.col("a.quantity").alias("snapshot_quantity"),
        )
        .agg(F.coalesce(F.sum("b.quantity"), F.lit(0)).alias("change_quantity"))
    )
    rows = gold.collect()
    assert len(rows) == 1998
    batch_gold = {
        (r.store_id, r.item_id): (r.snapshot_quantity, r.change_quantity)
        for r in reg.build("inventory_current").collect()
    }
    streamed_gold = {
        (r.store_id, r.item_id): (r.snapshot_quantity, r.change_quantity)
        for r in rows
    }
    # dropDuplicates keeps an ARBITRARY survivor in a stream (reference
    # semantics, 03:219); when a BOPIS duplicate pair straddles a
    # snapshot epoch, the survivor decides whether its quantity counts.
    # Strict equality holds on every key untouched by a duplicate
    # transaction; dup-touched keys may differ only in change_quantity.
    raw = reg.build("inventory_change_raw")
    dup_keys = {
        (r.store_id, r.item_id)
        for r in raw.groupBy("trans_id", "item_id", "store_id")
        .count().filter("count > 1").collect()
    }
    assert len(dup_keys) <= 21
    diffs = {k for k in batch_gold if streamed_gold[k] != batch_gold[k]}
    assert diffs <= dup_keys, f"non-dup keys differ: {sorted(diffs - dup_keys)[:5]}"
    for k in diffs:  # snapshot side must still agree
        assert streamed_gold[k][0] == batch_gold[k][0]
