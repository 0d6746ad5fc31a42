"""Round-12 ADVICE fixes.

1. kafka_wire rate-limit: pure flooring stalled the stream when
   maxOffsetsPerTrigger < number of lagging partitions (every alloc
   floors to 0, _prev_end never advances, processAllAvailable returns
   with records unread — silent data loss).
2. kafka_wire first trigger: with startingOffsets='latest', records
   appended between stream start and the first trigger bypassed the
   cap because latestOffset re-evaluated initialOffset() instead of
   using the checkpointed one.
3. runner: run_cycle eagerly parquet-preloaded EVERY previously-run
   non-due table, failing hard if an unrelated table's snapshot dir
   was removed externally.
4. spread_scan: width probe no longer compiles a physical plan
   (df.rdd) — decides from the logical plan's input files.
"""

from __future__ import annotations

import shutil

from db_cdc_poc_spark.partitioning import estimated_scan_width, spread_scan
from db_cdc_poc_spark.plans.registry import TableRegistry
from db_cdc_poc_spark.plans.runner import PipelineRunner
from db_cdc_poc_spark.sources.kafka_wire import (
    KafkaWireStreamReader,
    append_records,
    register,
)


def _recs(n, start=0, part=0):
    return [
        (f"k{part}-{i}", f"v{part}-{i}", 1_000_000 * i)
        for i in range(start, start + n)
    ]


# -- 1: cap below partition count must still make progress ------------------


def test_rate_limit_cap_below_partition_count_progresses(tmp_path_factory):
    """4 partitions x lag 3 with cap 2: floors are all 0; the remainder
    hand-out must advance 2 partitions per trigger until drained."""
    path = str(tmp_path_factory.mktemp("wire_floor_"))
    for p in range(4):
        append_records(path, p, _recs(3, part=p))
    r = KafkaWireStreamReader(
        {"path": path, "startingoffsets": "earliest", "maxoffsetspertrigger": "2"}
    )
    prev = dict(r.initialOffset())
    steps = []
    for _ in range(20):
        end = r.latestOffset()
        moved = sum(end[k] - prev[k] for k in end)
        if moved == 0:
            break
        steps.append(moved)
        prev = dict(end)
    assert sum(steps) == 12, "stream stalled with records unread"
    assert all(s <= 2 for s in steps), "a trigger exceeded the cap"
    assert len(steps) == 6


def test_rate_limit_cap_below_partition_count_stream_drains(spark, tmp_path_factory):
    """End-to-end: processAllAvailable must deliver every record even
    when the cap can't give each lagging partition a floor share."""
    path = str(tmp_path_factory.mktemp("wire_floor_e2e_"))
    for p in range(4):
        append_records(path, p, _recs(3, part=p))
    register(spark)
    got: list = []

    def sink(batch, epoch):
        rows = [(r.partition, r.offset) for r in batch.collect()]
        if rows:
            got.append(sorted(rows))

    q = (
        spark.readStream.format("kafka_wire")
        .option("path", path)
        .option("startingOffsets", "earliest")
        .option("maxOffsetsPerTrigger", "2")
        .load()
        .writeStream.foreachBatch(sink)
        .trigger(processingTime="50 milliseconds")
        .option("checkpointLocation", str(tmp_path_factory.mktemp("ckpt_floor_")))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = sorted(r for batch in got for r in batch)
    assert rows == [(p, o) for p in range(4) for o in range(3)]
    assert all(len(batch) <= 2 for batch in got)


def test_rate_limit_floor_still_proportional_when_cap_allows(tmp_path_factory):
    """Lags (8, 4) with cap 6 keep the proportional split (4, 2) —
    the remainder path must not disturb the exact-floor case."""
    path = str(tmp_path_factory.mktemp("wire_prop_"))
    append_records(path, 0, _recs(8))
    append_records(path, 1, _recs(4, part=1))
    r = KafkaWireStreamReader(
        {"path": path, "startingoffsets": "earliest", "maxoffsetspertrigger": "6"}
    )
    init = r.initialOffset()
    end = r.latestOffset()
    assert end["0"] - init["0"] == 4
    assert end["1"] - init["1"] == 2


# -- 2: first trigger rate-limits against the cached initial offset ---------


def test_first_trigger_respects_cap_with_starting_latest(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("wire_latest_cap_"))
    append_records(path, 0, _recs(5))
    r = KafkaWireStreamReader(
        {"path": path, "startingoffsets": "latest", "maxoffsetspertrigger": "2"}
    )
    init = r.initialOffset()  # Spark evaluates this once at stream start
    assert init == {"0": 5}
    append_records(path, 0, _recs(10, start=5))  # arrives before trigger 1
    end = r.latestOffset()
    # pre-fix: initialOffset() re-evaluated -> lag 0 -> end jumped to 15
    assert end == {"0": 7}, "first micro-batch bypassed maxOffsetsPerTrigger"


# -- 3: runner preloads only the due set's transitive upstreams -------------


def test_run_cycle_ignores_unrelated_missing_snapshot(spark, tmp_path_factory):
    reg = TableRegistry(spark)

    @reg.table(trigger="24 hours")
    def lonely():
        return spark.range(2)

    @reg.table(trigger="continuous")
    def fast():
        return spark.range(3).selectExpr("id AS v")

    root = str(tmp_path_factory.mktemp("runner_unrel_"))
    fake_now = [0.0]
    runner = PipelineRunner(reg, root, clock=lambda: fake_now[0])
    assert set(runner.run_cycle()) == {"lonely", "fast"}
    # an operator (or retention job) removes the unrelated snapshot
    shutil.rmtree(f"{root}/lonely")
    fake_now[0] = 10.0  # fast due, lonely not
    # pre-fix: unconditional spark.read.parquet(root/lonely) raised here
    assert runner.run_cycle() == ["fast"]


def test_run_cycle_still_serves_needed_upstream_from_snapshot(spark, tmp_path_factory):
    reg = TableRegistry(spark)
    builds = {"dim": 0}

    @reg.table(trigger="24 hours")
    def dim():
        builds["dim"] += 1
        return spark.range(4)

    @reg.table(trigger="continuous")
    def gold():
        return reg.read("dim").selectExpr("sum(id) AS s")

    root = str(tmp_path_factory.mktemp("runner_need_"))
    fake_now = [0.0]
    runner = PipelineRunner(reg, root, clock=lambda: fake_now[0])
    runner.run_cycle()
    fake_now[0] = 10.0
    assert runner.run_cycle() == ["gold"]
    assert builds["dim"] == 1  # served from parquet, builder not re-run
    assert spark.read.parquet(f"{root}/gold").collect()[0].s == 6


# -- ask #6: MIN/MAX-bearing gold folded from the changelog ------------------


def test_changelog_fold_maintains_max_under_deletes(spark, tmp_path_factory):
    """The reference's gold carries MAX(date_time)
    (notebooks/04_Current_Inventory.sql:17) — a sum/count fold cannot
    maintain it under deletes. ChangelogFoldedAggregate now wires the
    delta_minmax rule: inserts fold with greatest, and deleting the
    group's max holder rescans just that group against the target's
    applied state. Gold == full recompute at every trigger, and an
    injected re-fire is a no-op."""
    import datetime

    from pyspark.sql import Row, functions as F

    from db_cdc_poc_spark.streaming.cdc import CdcTarget
    from db_cdc_poc_spark.streaming.gold import ChangelogFoldedAggregate

    def ts(h):
        return datetime.datetime(2026, 1, 1, h)

    target = CdcTarget(
        str(tmp_path_factory.mktemp("gold_mm_")),
        keys="k",
        sequence_by="seq",
        apply_as_deletes="__del",
        except_columns=["__del"],
    )
    fold = ChangelogFoldedAggregate(
        target, group_keys=["g"], measures=["v"], max_cols=["ts"]
    )

    def step(rows, keys):
        target.upsert_batch(spark.createDataFrame(rows))
        fold.fold_trigger(
            spark, spark.createDataFrame([(k,) for k in keys], "k long")
        )
        got = {(r.g, r.n, r.v, r.ts) for r in fold.current(spark).collect()}
        want = {
            (r.g, r.n, r.v, r.ts)
            for r in target.current(spark)
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("v").cast("long").alias("v"),
                F.max("ts").alias("ts"),
            )
            .collect()
        }
        assert got == want
        return got

    step(
        [
            Row(k=1, seq=0, g="a", v=10, ts=ts(5), __del=False),
            Row(k=2, seq=0, g="b", v=20, ts=ts(9), __del=False),
        ],
        [1, 2],
    )
    step([Row(k=3, seq=1, g="a", v=7, ts=ts(12), __del=False)], [3])
    # delete group a's max holder: the fold must RESCAN group a and
    # fall back to ts(5) — the exact case insert-monotone folds miss
    before = step([Row(k=3, seq=2, g="a", v=7, ts=ts(12), __del=True)], [3])
    assert ("a", 1, 10, ts(5)) in before
    # injected re-fire: identical upsert + fold -> empty delta, no-op
    target.upsert_batch(
        spark.createDataFrame([Row(k=3, seq=2, g="a", v=7, ts=ts(12), __del=True)])
    )
    fold.fold_trigger(spark, spark.createDataFrame([(3,)], "k long"))
    after = {(r.g, r.n, r.v, r.ts) for r in fold.current(spark).collect()}
    assert after == before


def test_changelog_fold_minmax_only(spark, tmp_path_factory):
    """min/max with no sum measures: the mm table alone is the gold."""
    from pyspark.sql import Row

    from db_cdc_poc_spark.streaming.cdc import CdcTarget
    from db_cdc_poc_spark.streaming.gold import ChangelogFoldedAggregate

    target = CdcTarget(
        str(tmp_path_factory.mktemp("gold_mmo_")), keys="k", sequence_by="seq"
    )
    fold = ChangelogFoldedAggregate(
        target, group_keys=["g"], min_cols=["v"], max_cols=["w"]
    )
    target.upsert_batch(
        spark.createDataFrame(
            [Row(k=1, seq=0, g="a", v=3, w=3), Row(k=2, seq=0, g="a", v=9, w=9)]
        )
    )
    fold.fold_trigger(spark)
    row = fold.current(spark).collect()[0]
    assert (row.g, row.n, row.v, row.w) == ("a", 2, 3, 9)
    # update k1's value upward: min must survive via... k1's old v=3 was
    # the min; the update retracts it -> rescan path
    target.upsert_batch(spark.createDataFrame([Row(k=1, seq=1, g="a", v=5, w=5)]))
    fold.fold_trigger(spark, spark.createDataFrame([(1,)], "k long"))
    row = fold.current(spark).collect()[0]
    assert (row.g, row.n, row.v, row.w) == ("a", 2, 5, 9)


# -- 4: spread_scan decides without compiling a physical plan ---------------


def test_spread_scan_fires_on_compact_file(spark, tmp_path):
    src = str(tmp_path / "compact")
    spark.range(10_000).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    assert estimated_scan_width(df) == 1
    # r14: the spread target is size-scaled; pin per_task_bytes=1 to
    # assert the full-parallelism case on this tiny file
    out = spread_scan(df, per_task_bytes=1)
    assert out is not df
    target = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == target
    assert out.count() == 10_000
    # and under the default policy a sub-quota file spreads to its
    # size-scaled width (>= 1), never past core count
    out2 = spread_scan(df)
    import math
    import os

    size = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    from db_cdc_poc_spark.partitioning import spread_task_bytes

    expect = max(1, min(target, math.ceil(size / spread_task_bytes())))
    got = out2.rdd.getNumPartitions() if out2 is not df else 1
    assert got == expect


def test_spread_scan_noop_on_many_files(spark, tmp_path):
    src = str(tmp_path / "wide")
    n_files = spark.sparkContext.defaultParallelism * 2
    spark.range(10_000).repartition(n_files).write.parquet(src)
    df = spark.read.parquet(src)
    assert estimated_scan_width(df) >= n_files
    assert spread_scan(df) is df  # untouched: no exchange inserted


def test_spread_scan_respects_upstream_repartition(spark, tmp_path):
    """A frame someone already spread (load_table's keyed repartition
    of compact doc/embedding scans) must NOT be re-spread: a second
    round-robin exchange would stomp the keyed one and add the
    sortBeforeRepartition full-row local sort (measured +24% on q26)."""
    src = str(tmp_path / "compact2")
    spark.range(5_000).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(src)
    keyed = spark.read.parquet(src).repartition(
        spark.sparkContext.defaultParallelism, "id"
    )
    out = spread_scan(keyed)
    assert out is keyed  # untouched: the upstream exchange stands
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobin" not in plan
    assert plan.count("Exchange") == 1


def test_spread_scan_noop_on_in_memory_frame(spark):
    df = spark.createDataFrame([(1,), (2,)], "a int")
    assert estimated_scan_width(df) is None
    assert spread_scan(df) is df
    forced = spread_scan(df, force=True)
    assert forced is not df
    assert forced.count() == 2
