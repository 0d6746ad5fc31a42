"""Streaming sessionization — the engine's ``applyInPandasWithState``
custom stateful operator (T2-adjacent; SURVEY §2.10 names the Arrow
path as the idiomatic extension point).

Per-user ``GroupState`` carries (last event micros, session counter)
across micro-batches; each batch's events are sorted and folded onto
that state, so session numbers keep counting across batches instead of
restarting. Equals the batch window form (operators/sessionize.py) when
each user's events arrive in chronological batch order — online
sessionization is order-sensitive by nature, and late events belong to
whatever session the stream had reached (the batch form is the
backfill corrector). Parity under chronological arrival is asserted in
tests with mtime-forced file ordering.

Scale: state is ~16 bytes per ACTIVE user, partitioned by user hash in
the state store; each micro-batch shuffles only its own rows. The
Python work is Arrow-batched per user group — no row-at-a-time UDF.

This is the one streaming form of the per-event session fold. Spark 4's
``transformWithStateInPandas`` would run the same fold with typed named
state; it is not carried as a second copy, since one stateful operator
per semantics is enough (the declarative ``session_window`` aggregate
lives in ``streaming/jobs.py``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from db_cdc_poc_spark.streaming.ephemeral import drain_to_memory

OUTPUT_SCHEMA = "user_id bigint, event_id bigint, ts timestamp, session_seq int"
STATE_SCHEMA = "last_us bigint, seq int"


def _session_fold(gap_seconds: int):
    gap_us = gap_seconds * 1_000_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        last_us, seq = state.get if state.exists else (None, 0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
        out = []
        for ts_ns in batch["ts"].astype("int64"):
            us = ts_ns // 1_000
            if last_us is None or us - last_us > gap_us:
                seq += 1
            last_us = us
            out.append(seq)
        state.update((int(last_us), int(seq)))
        yield pd.DataFrame(
            {
                "user_id": user_id,
                "event_id": batch["event_id"].to_numpy(),
                "ts": batch["ts"].to_numpy(),
                "session_seq": pd.array(out, dtype="int32"),
            }
        )

    return fn


def stream_sessionize(
    spark: SparkSession,
    source_path: str,
    gap_seconds: int = 1800,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File stream -> per-user applyInPandasWithState session fold ->
    memory sink; returns every event's session assignment after the
    availableNow drain."""
    return drain_to_memory(
        spark,
        source_path,
        lambda s: s.select("user_id", "event_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fold(gap_seconds),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
        "sess",
        "update",
        max_files_per_trigger,
    )

