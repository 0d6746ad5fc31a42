"""Incremental gold maintenance (streaming/gold.py) must reproduce the
batch gold recompute EXACTLY over the reference CSVs — 1,998 rows,
value-for-value — no matter how the corrected change stream splits
into micro-batches."""

from __future__ import annotations


from pyspark.sql import functions as F

from db_cdc_poc_spark.pipelines.inventory import (
    build_inventory_pipeline,
    corrected_changes,
)
from db_cdc_poc_spark.streaming.gold import IncrementalGold, stream_gold_inventory


def _normalized(df):
    return sorted(map(tuple, df.collect()))


def test_incremental_gold_matches_batch_recompute_across_batches(spark, tmp_path):
    reg = build_inventory_pipeline(spark)
    want = _normalized(reg.build("inventory_current"))
    assert len(want) == 1998

    changes_dir = str(tmp_path / "changes")
    corrected_changes(reg).repartition(3).write.parquet(changes_dir)
    got = _normalized(
        stream_gold_inventory(
            spark,
            changes_dir,
            reg.build("inventory_snapshot"),
            max_files_per_trigger=1,  # 3 files -> >=3 micro-batches
        )
    )
    assert got == want


def test_incremental_gold_ignores_pre_snapshot_and_unknown_keys(spark, tmp_path):
    snap = spark.createDataFrame(
        [(1, 10, 100, "2024-01-01 12:00:00")],
        "store_id int, item_id int, quantity int, ts string",
    ).select(
        "store_id", "item_id", "quantity", F.to_timestamp("ts").alias("date_time_ts")
    )
    gold = IncrementalGold(str(tmp_path), snap)
    batch = spark.createDataFrame(
        [
            (1, 10, "2024-01-01 11:00:00", -5),   # before snapshot: ignored
            (1, 10, "2024-01-01 13:00:00", 7),    # counted
            (2, 20, "2024-01-01 13:00:00", 99),   # no snapshot key: ignored
        ],
        "store_id int, item_id int, ts string, quantity int",
    ).select(
        "store_id", "item_id", F.to_timestamp("ts").alias("date_time"), "quantity"
    )
    gold.apply_changes_batch(batch)
    [r] = gold.current(spark).collect()
    assert (r.store_id, r.item_id) == (1, 10)
    assert r.snapshot_quantity == 100
    assert r.change_quantity == 7
    assert r.current_inventory == 107
    assert str(r.date_time) == "2024-01-01 13:00:00"
