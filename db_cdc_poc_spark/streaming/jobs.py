"""Streaming jobs: watermarked stateful dedup over a file stream.

Re-expresses the reference's silver dedup (reference:
03_Ingestion.py:218-219 — ``withWatermark('date_time', '1 hour')`` then
``dropDuplicates(['trans_id','item_id'])``) as an OSS file-source
stream.

Watermark choice (the SURVEY §2.9 T1 trap): the reference's 1-hour
watermark is SHORTER than the 2-13.7 h lag between its BOPIS duplicate
pairs, so streaming state can expire before the second copy arrives and
the dup survives; the gold query's filter is the backstop. Our default
here is deliberately wide (35 days) so streaming output matches batch
``dropDuplicates`` exactly; callers trade state size for dedup reach by
narrowing it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from db_cdc_poc_spark.streaming.ephemeral import drain_foreach_batch, drain_to_memory


def stream_dedup_keys(
    spark: SparkSession,
    source_path: str,
    keys: Sequence[str],
    watermark_col: str = "ts",
    watermark_delay: str = "35 days",
) -> DataFrame:
    """File stream -> watermark -> stateful dropDuplicates -> memory sink.

    Returns the deduped KEY set as a batch DataFrame (survivor payloads
    are arrival-order-dependent in a stream; the key set is
    deterministic). ``availableNow`` drains the source and stops, so
    the call is synchronous and repeatable.

    Scale: dropDuplicates state is one entry per key in the state
    store, partitioned by key hash; the watermark bounds its lifetime.
    """
    return drain_to_memory(
        spark,
        source_path,
        lambda s: s.withWatermark(watermark_col, watermark_delay)
        .dropDuplicates(list(keys))
        .select(*keys),
        "dedup_keys",
        "append",
    )


def stream_windowed_counts(
    spark: SparkSession,
    source_path: str,
    window: str = "6 hours",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling event-time window aggregate over a drained file stream
    (T1 windowed form): count + integer-cents sum per window.

    Output mode is COMPLETE against a memory sink: an availableNow
    drain re-emits the full aggregate on the final trigger, so the
    result equals the batch window aggregate exactly — including the
    newest, still-open window that append mode would withhold (append
    emits a window only once the watermark passes its end, and the
    window holding the max event time never closes in a finite drain).
    Complete mode keeps all windows in state: fine for a drain or a
    bounded window count, whereas a CONTINUOUS deployment should use
    ``withWatermark(...)`` + append and accept that the tail window is
    published one watermark-delay late — that bounds state instead.
    """
    from pyspark.sql import functions as F

    return drain_to_memory(
        spark,
        source_path,
        lambda s: s.groupBy(F.window(ts_col, window).alias("w")).agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col(value_col) * 100, 0)).cast("long").alias("value_cents"),
        ),
        "win_counts",
        "complete",
    ).select(F.col("w.start").alias("window_start"), "n", "value_cents")


def stream_session_counts(
    spark: SparkSession,
    source_path: str,
    gap: str = "10 minutes",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """The q106 ``session_window`` aggregation run AS A STREAM: the
    same declarative operator, drained availableNow against a memory
    sink in complete mode, so the result equals the batch
    session_window aggregate exactly (sessions merge across
    micro-batches in state — the engine, not the caller, handles a
    session spanning a batch boundary). A continuous deployment uses
    ``withWatermark`` + append and publishes each session one
    watermark-delay after it closes; complete mode is the
    finite-drain/bounded-session-count form, same tradeoff as
    ``stream_windowed_counts``.
    """
    from pyspark.sql import functions as F

    return drain_to_memory(
        spark,
        source_path,
        lambda s: s.groupBy(
            key_col, F.session_window(F.col(ts_col), gap).alias("w")
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col(value_col) * 100, 0)).cast("long").alias("total_cents"),
        ),
        "sess_counts",
        "complete",
    ).select(
        key_col,
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        "total_cents",
    )


def stream_stream_join(
    spark: SparkSession,
    source_path: str,
    left_type: str,
    right_type: str,
    join_window: str = "30 minutes",
    type_col: str = "event_type",
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark_delay: str = "35 days",
) -> DataFrame:
    """Stream-stream inner join (T-surface the reference never uses but
    Structured Streaming ships): two filtered views of one event
    stream, joined on key with the right event inside
    ``join_window`` AFTER the left event.

    Both sides carry watermarks and the join condition bounds the
    right timestamp relative to the left, so Spark can expire
    buffered-side state once the watermark passes — the mechanism that
    makes an infinite stream-stream join finite-state. With the wide
    drain-mode default watermark the output equals the batch
    time-bounded join exactly (the oracle's form); production callers
    narrow ``watermark_delay`` to their late-data bound, trading
    buffered state for completeness, same tradeoff as the dedup job.

    Returns (left event_id, right event_id, key, both timestamps) from
    an availableNow drain into a memory sink.
    """
    import pyspark.sql.functions as F

    def join(stream: DataFrame) -> DataFrame:
        left = (
            stream.filter(F.col(type_col) == left_type)
            .select(
                F.col("event_id").alias("l_id"),
                F.col(key_col).alias("l_key"),
                F.col(ts_col).alias("l_ts"),
            )
            .withWatermark("l_ts", watermark_delay)
        )
        right = (
            stream.filter(F.col(type_col) == right_type)
            .select(
                F.col("event_id").alias("r_id"),
                F.col(key_col).alias("r_key"),
                F.col(ts_col).alias("r_ts"),
            )
            .withWatermark("r_ts", watermark_delay)
        )
        return left.join(
            right,
            F.expr(
                f"l_key = r_key AND r_ts >= l_ts AND r_ts <= l_ts + interval {join_window}"
            ),
        ).select("l_id", "r_id", F.col("l_key").alias("user_id"), "l_ts", "r_ts")

    return drain_to_memory(spark, source_path, join, "ss_join", "append")


def stream_enrich(
    spark: SparkSession,
    source_path: str,
    dim: DataFrame,
    on: str = "user_id",
    dim_cols: Sequence[str] = ("c_name", "c_mktsegment"),
) -> DataFrame:
    """Stream-static enrichment join: a streaming fact joined to a
    static (batch) dimension — the standard stream enrichment shape.
    The static side needs no watermark and holds no join state; Spark
    plans it as an ordinary (here broadcast) join executed per
    micro-batch, so at scale the dim rides along as a broadcast and
    the stream is never shuffled. Drained availableNow into a memory
    sink; output = events + the selected dim columns (inner)."""
    import pyspark.sql.functions as F

    return drain_to_memory(
        spark,
        source_path,
        lambda s: s.join(F.broadcast(dim), on).select(
            "event_id", on, "event_type", *dim_cols
        ),
        "enrich",
        "append",
    )


def stream_dedup_keys_within_watermark(
    spark: SparkSession,
    source_path: str,
    keys: Sequence[str],
    watermark_col: str = "ts",
    watermark_delay: str = "35 days",
) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` form of the streaming dedup —
    the bounded-state production variant.

    Plain ``dropDuplicates`` keeps one state entry per key FOREVER
    unless the event-time column is part of the key (the watermark only
    expires state whose key embeds event time) — on a continuous 100 TB
    keyspace that is unbounded state growth. WithinWatermark changes
    the contract: two events are duplicates only if their event times
    fall within ``watermark_delay`` of each other, and state is
    GUARANTEED evicted once the watermark passes an entry. With a delay
    wider than the data's time span and an availableNow drain, the
    output key set equals batch DISTINCT exactly — which is what the
    oracle checks; production narrows the delay to its real dup window.
    """
    return drain_to_memory(
        spark,
        source_path,
        lambda s: s.withWatermark(watermark_col, watermark_delay)
        .dropDuplicatesWithinWatermark(list(keys))
        .select(*keys),
        "dedup_wm",
        "append",
    )


def stream_fanout(
    spark: SparkSession,
    source_path: str,
    sinks: Sequence[str],
    max_files_per_trigger: int | None = None,
) -> None:
    """One stream, N sinks, ONE source pass: a ``foreachBatch`` that
    persists each micro-batch and writes it to every sink under a
    ``batch_id=<n>`` subdirectory.

    The alternative — N independent streaming queries — re-reads and
    re-processes the source N times and keeps N checkpoints; fanout
    inside one foreachBatch reads once and reuses the cached batch.
    The per-batch directory + overwrite mode makes replay after a
    checkpoint restart IDEMPOTENT: a re-delivered batch overwrites its
    own directory instead of appending duplicates (the standard
    exactly-once-to-file-sinks recipe when the sink itself isn't
    transactional). Readers see each sink as a parquet table
    partitioned by batch_id.
    """

    def _write_batch(df: DataFrame, batch_id: int) -> None:
        df.persist()
        try:
            for sink in sinks:
                df.write.mode("overwrite").parquet(f"{sink}/batch_id={batch_id}")
        finally:
            df.unpersist()

    drain_foreach_batch(
        spark, source_path, _write_batch, "fanout", max_files_per_trigger
    )
