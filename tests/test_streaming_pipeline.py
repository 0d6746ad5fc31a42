"""End-to-end streaming ingestion over the reference's own data:
CSV feeds -> replayed topic files -> streaming parse/dedup/CDC-apply ->
parity with the batch pipeline's silver tables. The first test needs no
reference data: it replays synthetic feeds one file per trigger."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from db_cdc_poc_spark.pipelines.inventory import build_inventory_pipeline
from db_cdc_poc_spark.pipelines.inventory_streaming import run_ingestion
from db_cdc_poc_spark.pipelines.replay import (
    cdc_docs,
    transaction_docs,
    write_topic_files,
)


def test_one_file_triggers_keep_every_row(spark):
    """Topic files replayed one per trigger must lose no event to the
    dedup watermark: six days of synthetic change rows (with 2-13 h
    late BOPIS-style copies, which the dedup must still drop) stream to
    the same silver count as batch ``dedup_exact``, and the snapshot
    feed applies to the batch latest row per key."""
    from datetime import datetime, timedelta

    from db_cdc_poc_spark import schemas
    from db_cdc_poc_spark.operators.dedup import dedup_exact

    t0 = datetime(2024, 3, 1)
    change, snaps = [], []
    for h in range(6 * 24):
        for store in (1, 2):
            at = t0 + timedelta(hours=h, minutes=7 * store)
            tid = f"{{t{h:04d}-{store}}}"
            for item in range(1 + h % 3):
                row = (tid, 10 + item, store, at, 1 + item, 1 + h % 4)
                change.append(row)
                if h % 10 == 0:  # a later copy of the same transaction
                    change.append(
                        row[:3] + (at + timedelta(hours=2 + h % 12),) + row[4:]
                    )
        snaps.append((h % 5, 7, 1 + h % 2, t0 + timedelta(hours=h), h))
    change_df = spark.createDataFrame(change, schemas.INVENTORY_CHANGE_SCHEMA)
    snap_df = spark.createDataFrame(snaps, schemas.INVENTORY_SNAPSHOT_SCHEMA)

    root = tempfile.mkdtemp(prefix="topics_synth_")
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
    latest = {}
    for item, _, store, at, qty in sorted(snaps, key=lambda r: r[3]):
        latest[(item, store)] = qty
    assert {
        (r.item_id, r.store_id): r.quantity
        for r in out["inventory_snapshot"].collect()
    } == latest


@pytest.fixture(scope="module")
def topics(spark):
    reg = build_inventory_pipeline(spark)
    root = tempfile.mkdtemp(prefix="topics_")
    events = write_topic_files(
        transaction_docs(reg.build("inventory_change_raw")), f"{root}/events", n_files=4
    )
    # snapshot feed, raw (pre latest-per-key): every upsert the CDC
    # stream would carry
    from db_cdc_poc_spark import schemas
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
def ingested(spark, topics):
    return run_ingestion(
        spark, topics["events"], topics["cdc"], max_files_per_trigger=2
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
