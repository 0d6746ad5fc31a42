"""Replay generator (T7): turn the reference's CSV feeds into the two
Kafka-shaped streams the ingestion pipeline consumes — without Kafka.

Re-expresses 02_Data_Generation.py set-based:
- transaction docs (02:63-73): strip {braces} from trans_id (F1),
  group change rows into one JSON document per transaction with an
  items array (A1/A3), ordered deterministically (O1), serialized
  executor-side with to_json (S11's columnar form);
- CDC docs: Debezium-style envelopes synthesized from snapshot rows
  (the reference routes these through Postgres+Debezium, 02:130-166;
  the envelope shape is documented at 03:260-286) with ts_ms =
  snapshot epoch millis as the sequencing column.

The reference replays in real time/250 with driver sleeps (02:249-256);
a deterministic engine test needs no clock — files ARE the topic, and
availableNow drains them.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def transaction_docs(change: DataFrame) -> DataFrame:
    """(date_time, trans_id, value) — one JSON doc per transaction.

    value matches the wire example at 03:166-177: trans_id (braces
    stripped), store_id, date_time, change_type_id, items array of
    (item_id, quantity) structs in deterministic item order.
    """
    stripped = change.withColumn(
        "trans_id", F.expr("substring(trans_id, 2, length(trans_id) - 2)")
    )
    grouped = (
        stripped.groupBy("date_time", "trans_id")
        .agg(
            F.first("store_id").alias("store_id"),
            F.first("change_type_id").alias("change_type_id"),
            F.array_sort(
                F.collect_list(F.struct("item_id", "quantity"))
            ).alias("items"),
        )
        .orderBy("date_time", "trans_id")
    )
    return grouped.select(
        "date_time",
        "trans_id",
        F.to_json(
            F.struct("trans_id", "store_id", "date_time", "change_type_id", "items")
        ).alias("value"),
    )


def cdc_docs(snapshots: DataFrame) -> DataFrame:
    """(key, value) Debezium-style envelope per snapshot row.

    key = {item_id, store_id}; value carries the after-image with
    date_time as epoch MICROseconds (03:315 converts it back) and
    ts_ms = epoch millis of the snapshot time (the sequencing column,
    03:324). op='u' — the replay upserts; deletes are exercised in
    unit tests.
    """
    return snapshots.select(
        F.to_json(F.struct("item_id", "store_id")).alias("key"),
        F.to_json(
            F.struct(
                F.struct(
                    "item_id",
                    "store_id",
                    "employee_id",
                    F.unix_micros("date_time").alias("date_time"),
                    "quantity",
                ).alias("after"),
                F.lit("u").alias("op"),
                (F.unix_micros("date_time") / 1000).cast("long").alias("ts_ms"),
            )
        ).alias("value"),
    )


def write_topic_files(docs: DataFrame, path: str, n_files: int = 4) -> str:
    """Materialize a doc stream as JSON-lines files — the engine's
    file-based stand-in for a Kafka topic. n_files > 1 lets
    maxFilesPerTrigger split the replay into micro-batches (T4).

    The files are a topic in EVENT-TIME order, as a broker replay
    would deliver it: file i holds the i-th event-time range, and its
    modification time follows that order (the file source lists the
    oldest file first). Event time is ``date_time`` for
    :func:`transaction_docs` and the envelope's ``ts_ms`` for
    :func:`cdc_docs`. A round-robin split would spread every file over
    the whole time range, so one-file triggers deliver later files
    behind the dedup watermark and the stream drops them as late.
    """
    et = (
        F.col("date_time")
        if "date_time" in docs.columns
        else F.get_json_object("value", "$.ts_ms").cast("long")
    )
    docs.repartitionByRange(n_files, et).write.mode("overwrite").json(path)
    spark = docs.sparkSession
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    parts = sorted(
        (st.getPath() for st in fs.listStatus(jpath)
         if st.getPath().getName().startswith("part-")),
        key=lambda p: p.getName(),
    )
    # part-NNNNN follows the range partition id; space the mtimes 1 s
    # apart, ending now, so the listing order cannot tie
    now_ms = int(time.time() * 1000)
    for i, part in enumerate(parts):
        fs.setTimes(part, now_ms - (len(parts) - i) * 1000, -1)
    return path
