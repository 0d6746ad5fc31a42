"""Streaming POS ingestion — the reference's DLT pipeline (notebooks/
03_Data_Ingestion.py) as OSS Structured Streaming over file-based
topic stand-ins (see pipelines/replay.py; swap sources/kafka.py readers
in when a broker exists).

    event topic files  ─► parse envelope ─► watermark ─► dedup ─► silver parquet
    cdc topic files    ─► parse Debezium ─► foreachBatch CDC apply ─► keyed state
    silver + dims      ─► gold recompute (pipelines/inventory.py shape)

Both topic legs run as one drain on the engine's drain core
(streaming/ephemeral.py): a failure in one stops the other.

Watermark default is 14 hours, NOT the reference's 1 hour: the BOPIS
duplicate pairs arrive 2-13.7 h apart in event time (SURVEY §2.9 T1),
so a 1-hour watermark lets streaming dedup state expire before the
second copy arrives. The reference leans on the gold query's BOPIS
filter as a backstop; we keep that filter AND make the dedup reach the
documented lag. Callers can pass '1 hour' for strict reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from db_cdc_poc_spark.operators.envelopes import (
    parse_cdc_envelope,
    parse_transaction_events,
)
from db_cdc_poc_spark.streaming.cdc import CdcTarget
from db_cdc_poc_spark.streaming.ephemeral import Leg, drain

#: See module docstring — covers the verified 13.7 h max BOPIS lag.
DEFAULT_DEDUP_WATERMARK = "14 hours"


def read_topic_files(
    spark: SparkSession,
    path: str,
    with_key: bool = False,
    max_files_per_trigger: int | None = None,
):
    """Streaming read of a JSON-lines topic directory into the Kafka
    (key, value) string shape."""
    schema = "key string, value string" if with_key else "value string"
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)


def inventory_change_stream(
    spark: SparkSession,
    events_path: str,
    watermark: str = DEFAULT_DEDUP_WATERMARK,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming silver inventory_change: parse -> watermark -> stateful
    dedup (reference 03:201-221)."""
    raw = read_topic_files(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    )
    return (
        parse_transaction_events(raw)
        .withWatermark("date_time", watermark)
        .dropDuplicates(["trans_id", "item_id"])
    )


def run_ingestion(
    spark: SparkSession,
    events_path: str,
    cdc_path: str,
    out_root: str,
    watermark: str = DEFAULT_DEDUP_WATERMARK,
    max_files_per_trigger: int | None = None,
) -> dict[str, DataFrame]:
    """Drain both topics as one two-leg ``ephemeral.drain`` and return
    the silver tables as batch DataFrames: inventory_change (parquet
    sink) and inventory_snapshot (CDC-applied keyed state, reference
    03:318-326). Sinks, state and checkpoints live under ``out_root``,
    so a second call on the same root resumes where the first stopped.
    """
    change_sink = f"{out_root}/inventory_change"
    target = CdcTarget(
        f"{out_root}/inventory_snapshot_state",
        keys=["item_id", "store_id"],
        sequence_by="ts_ms",
        apply_as_deletes="op = 'd'",
        except_columns=["op", "ts_ms", "date_time"],
    )
    events = inventory_change_stream(
        spark, events_path, watermark, max_files_per_trigger
    )
    cdc_raw = read_topic_files(
        spark, cdc_path, with_key=True, max_files_per_trigger=max_files_per_trigger
    )
    drain(
        Leg(
            "change",
            events,
            lambda w: w.format("parquet").option("path", change_sink)
            .outputMode("append"),
            f"{out_root}/ckpt_change",
        ),
        Leg(
            "cdc",
            parse_cdc_envelope(cdc_raw),
            lambda w: w.foreachBatch(target.upsert_batch),
            f"{out_root}/ckpt_cdc",
        ),
    )
    return {
        "inventory_change": spark.read.parquet(change_sink),
        "inventory_snapshot": target.current(spark),
    }
