"""Round-11 regression tests: the four ADVICE items and the
BloomFront cache bound (VERDICT r10 asks #3 and ADVICE 1-4).

1. ``CdcTarget.changes_since`` under additive schema evolution — a
   column added (or numeric-widened) between the watermark commit and
   now must appear NULL/widened on the ``before`` side, not raise
   AnalysisException (ADVICE medium, streaming/cdc.py).
2. ``changes_since(commit=None)`` with payload column names that need
   quoting (space/hyphen) — the bootstrap before-struct type is built
   programmatically, not as a DDL string (ADVICE low).
3. ``TableRegistry.known_order`` cycle guard — after one failed cyclic
   build the recorded dep edges contain both back-edges; known_order
   must raise the clear cycle error, not RecursionError (ADVICE low).
4. ``PipelineRunner.run_cycle`` — a NON-due upstream of a due table is
   served from its materialized parquet, not by re-executing its
   (side-effectful) builder, so its trigger cadence holds (ADVICE low).
5. ``BloomFront`` LRU cap — the driver cache is bounded at
   ``max_entries`` packed bitsets and pruning stays correct across
   evictions (reloadable filters; VERDICT ask #3).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from db_cdc_poc_spark.plans.registry import TableRegistry
from db_cdc_poc_spark.plans.runner import PipelineRunner
from db_cdc_poc_spark.streaming.bloom import BloomFront
from db_cdc_poc_spark.streaming.cdc import CdcTarget


# -- 1: changes_since across additive schema evolution --------------------


def test_changes_since_survives_added_column(spark, tmp_path_factory):
    """A column added between the watermark commit and now appears in
    both before/after structs, NULL on the old side."""
    target = CdcTarget(
        str(tmp_path_factory.mktemp("cdc_evo_")), keys="k", sequence_by="seq"
    )
    target.upsert_batch(
        spark.createDataFrame([Row(k=1, seq=1, v=10), Row(k=2, seq=1, v=20)])
    )
    wm = target.state.commits()[-1]
    # second batch ADDS column `extra` and touches k=2 only
    target.upsert_batch(
        spark.createDataFrame([Row(k=2, seq=2, v=21, extra="new")])
    )
    delta = {r.k: r for r in target.changes_since(spark, wm).collect()}
    assert set(delta) == {2}
    r = delta[2]
    assert r.op == "u"
    assert r.before.v == 20 and r.before.extra is None
    assert r.after.v == 21 and r.after.extra == "new"
    # the struct field sets agree (union of both snapshots' payloads)
    assert set(r.before.asDict()) == set(r.after.asDict())


def test_changes_since_survives_numeric_widening(spark, tmp_path_factory):
    """int -> bigint widening between commits: both sides cast to the
    wider type instead of raising on struct-type mismatch."""
    import pyspark.sql.types as T

    target = CdcTarget(
        str(tmp_path_factory.mktemp("cdc_widen_")), keys="k", sequence_by="seq"
    )
    narrow = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("seq", T.IntegerType()),
            T.StructField("v", T.IntegerType()),
        ]
    )
    wide = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("seq", T.IntegerType()),
            T.StructField("v", T.LongType()),
        ]
    )
    target.upsert_batch(spark.createDataFrame([(1, 1, 10)], narrow))
    wm = target.state.commits()[-1]
    target.upsert_batch(spark.createDataFrame([(1, 2, 2**40)], wide))
    [r] = target.changes_since(spark, wm).collect()
    assert r.op == "u" and r.before.v == 10 and r.after.v == 2**40


def test_changes_since_bootstrap_quoted_column_names(spark, tmp_path_factory):
    """commit=None with payload names needing backticks (space, dash)
    must not crash on type construction."""
    target = CdcTarget(
        str(tmp_path_factory.mktemp("cdc_quote_")), keys="k", sequence_by="seq"
    )
    df = (
        spark.createDataFrame([Row(k=1, seq=1, v=5)])
        .withColumnRenamed("v", "weird col-name")
    )
    target.upsert_batch(df)
    [r] = target.changes_since(spark, None).collect()
    assert r.op == "c" and r.before is None
    assert r.after["weird col-name"] == 5


# -- 3: known_order cycle guard --------------------------------------------


def test_known_order_raises_cycle_not_recursion(spark):
    reg = TableRegistry(spark)

    @reg.table()
    def a():
        return reg.read("b")

    @reg.table()
    def b():
        return reg.read("a")

    with pytest.raises(ValueError, match="dependency cycle"):
        reg.build("a")
    # read() recorded both back-edges before build() raised; the pure
    # ordering walk must now surface the SAME clear error, not blow
    # the stack (pre-fix: RecursionError from due()/materialize())
    with pytest.raises(ValueError, match="dependency cycle"):
        reg.known_order()


# -- 4: non-due upstream served from parquet -------------------------------


def test_non_due_upstream_builder_not_reexecuted(spark, tmp_path_factory):
    """A slow-trigger upstream's builder fires once per ITS cadence,
    not once per downstream cycle — re-execution would double-apply
    side effects (index appends, upserts) the runner contract makes
    legal. The non-due upstream is served from its materialized
    parquet snapshot."""
    reg = TableRegistry(spark)
    builds = {"dim": 0, "gold": 0}

    @reg.table(trigger="24 hours")
    def dim():
        builds["dim"] += 1
        return spark.range(3)

    @reg.table(trigger="continuous")
    def gold():
        builds["gold"] += 1
        return reg.read("dim").selectExpr("sum(id) AS s")

    fake_now = [0.0]
    root = str(tmp_path_factory.mktemp("runner_r11_"))
    runner = PipelineRunner(reg, root, clock=lambda: fake_now[0])

    assert set(runner.run_cycle()) == {"dim", "gold"}
    assert builds == {"dim": 1, "gold": 1}
    for t in (100.0, 200.0, 300.0):
        fake_now[0] = t
        assert runner.run_cycle() == ["gold"]
    # dim's builder never re-fired; gold still computed correctly from
    # the parquet snapshot every cycle
    assert builds == {"dim": 1, "gold": 4}
    assert spark.read.parquet(f"{root}/gold").collect()[0].s == 3
    # once dim's own cadence elapses it rebuilds
    fake_now[0] = 90000.0
    assert set(runner.run_cycle()) == {"dim", "gold"}
    assert builds["dim"] == 2


# -- 5: BloomFront LRU bound ------------------------------------------------


def test_bloom_cache_bounded_and_correct_across_evictions(tmp_path_factory):
    bf = BloomFront("_t_bloom.npz", 1 << 12, max_entries=3)
    dirs, keysets = [], []
    for i in range(8):
        d = tmp_path_factory.mktemp(f"bloom_lru_{i}_")
        keys = np.arange(i * 100, i * 100 + 50, dtype=np.int64)
        bf.write(d, keys)
        dirs.append(d)
        keysets.append(keys)
    # cache never exceeds the cap
    assert len(bf._cache) <= 3
    # evicted dirs reload from disk and still answer correctly: every
    # written key hits, disjoint keys (roomy filter) are pruned
    bf_roomy = BloomFront("_r_bloom.npz", 1 << 16, max_entries=2)
    for d, keys in zip(dirs, keysets):
        bf_roomy.write(d, keys)
    for d, keys in zip(dirs, keysets):
        assert bf_roomy.might_contain_any(d, keys[:5])
        assert not bf_roomy.might_contain_any(
            d, np.asarray([10_000_000], dtype=np.int64)
        )
        assert len(bf_roomy._cache) <= 2

    # LRU order: touching an old entry keeps it resident
    bf2 = BloomFront("_t_bloom.npz", 1 << 12, max_entries=2)
    assert bf2.might_contain_any(dirs[0], keysets[0][:1])  # load 0
    assert bf2.might_contain_any(dirs[1], keysets[1][:1])  # load 1
    assert bf2.might_contain_any(dirs[0], keysets[0][:1])  # touch 0
    assert bf2.might_contain_any(dirs[2], keysets[2][:1])  # evicts 1
    assert str(dirs[0]) in bf2._cache and str(dirs[1]) not in bf2._cache


def test_bloom_cap_validation():
    with pytest.raises(ValueError):
        BloomFront("_x.npz", 1 << 12, max_entries=0)


# -- 5b: IVF drift sketch (ask #4) ------------------------------------------


def test_drift_sketch_fast_path_equals_full_scan(spark, tmp_path_factory):
    """drift_report's sketch fast path (per-list partials maintained at
    build/append) returns byte-identical rows to the full corpus x
    codebook scan, and every guard (missing sketch, short sketch,
    foreign codebook) falls back instead of under-reporting."""
    import shutil

    import numpy as np

    from db_cdc_poc_spark.operators.similarity import norm as _norm
    from db_cdc_poc_spark.operators.vector_index import IvfIndex

    rng = np.random.RandomState(11)
    d = 6

    def rows(n, start, shift):
        pts = rng.randn(n, d) * 0.3 + shift
        return [(start + i, [float(x) for x in pts[i]]) for i in range(n)]

    base = rows(20, 0, 0.0) + rows(20, 100, 2.0)
    corpus = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [0.0] * d), (1, [2.0] * d)], "vec_id long, embedding array<double>"
    )
    path = str(tmp_path_factory.mktemp("drift_sk_")) + "/idx"
    idx = IvfIndex.build(corpus, centroids=cents, path=path)

    def report_set():
        return {
            tuple(r)
            for r in idx.drift_report(spark).collect()
        }

    lists = spark.read.parquet(f"{path}/lists")
    assert idx._drift_report_from_sketch(spark, lists) is not None  # fast path live
    fast = report_set()
    shutil.rmtree(f"{path}/drift_stats")  # force the full scan
    full = report_set()
    assert fast == full
    assert all(r[-1] == 0 for r in fast)  # n_misassigned

    # re-seed + append: partials merge, still equal to full scan
    idx.refresh_drift_stats(spark)
    idx.append(
        spark.createDataFrame(rows(10, 200, 2.0), "vec_id long, embedding array<double>")
    )
    spark.catalog.refreshByPath(f"{path}/lists")
    lists = spark.read.parquet(f"{path}/lists")
    assert idx._drift_report_from_sketch(spark, lists) is not None
    fast2 = report_set()
    shutil.rmtree(f"{path}/drift_stats")
    full2 = report_set()
    assert fast2 == full2 and fast2 != fast

    # short sketch (torn append: lists row total > sketch total) -> fallback
    idx.refresh_drift_stats(spark)
    idx.append(
        spark.createDataFrame(rows(5, 300, 0.0), "vec_id long, embedding array<double>")
    )
    shutil.rmtree(f"{path}/drift_stats")
    idx.refresh_drift_stats(spark)
    # drop one partial part-file: totals disagree, guard must fall back
    import pathlib

    parts = [
        p
        for p in pathlib.Path(f"{path}/drift_stats").iterdir()
        if p.name.startswith("part-") and p.stat().st_size > 0
    ]
    parts[0].unlink()
    spark.catalog.refreshByPath(f"{path}/drift_stats")
    spark.catalog.refreshByPath(f"{path}/lists")
    lists = spark.read.parquet(f"{path}/lists")
    sketch_view = idx._drift_report_from_sketch(spark, lists)
    full3 = report_set()  # falls back internally either way
    if sketch_view is not None:
        # the dropped part happened to hold no rows for any list — rare
        assert {tuple(r) for r in sketch_view.collect()} == full3

    # external retrain: codebook fp changes -> fast path refuses
    idx.refresh_drift_stats(spark)
    swapped = spark.createDataFrame(
        [(0, [2.0] * d), (1, [0.0] * d)], "cid long, ce array<double>"
    ).withColumn("cen", _norm("ce"))
    swapped.write.mode("overwrite").parquet(f"{path}/centroids")
    spark.catalog.refreshByPath(f"{path}/centroids")
    lists = spark.read.parquet(f"{path}/lists")
    assert idx._drift_report_from_sketch(spark, lists) is None
    rep = {r.list_id: r.n_misassigned for r in idx.drift_report(spark).collect()}
    assert sum(rep.values()) > 0  # the full scan sees the retrain


# -- 6: changes_since-backed gold in the composed runner (ask #2) ----------


def test_runner_gold_folds_changes_since_and_survives_refire(spark, tmp_path_factory):
    """The production composed path: registry/runner pipeline whose
    gold consumes ``ChangelogFoldedAggregate`` (the CdcTarget's OWN
    applied-state delta, keys_filter batch-bounded) instead of a
    batch-derived changelog. Gold == full recompute at every cycle,
    and an injected re-fired trigger (same batch delivered twice) is
    an exact no-op."""
    from db_cdc_poc_spark.plans.registry import TableRegistry
    from db_cdc_poc_spark.streaming.gold import ChangelogFoldedAggregate

    target = CdcTarget(
        str(tmp_path_factory.mktemp("gold_fold_")), keys="k", sequence_by="seq"
    )
    fold = ChangelogFoldedAggregate(target, group_keys=["g"], measures=["v"])
    reg = TableRegistry(spark)
    state = {"cycle": 0}
    batches = {
        0: [Row(k=1, seq=0, g="a", v=10), Row(k=2, seq=0, g="b", v=20)],
        1: [Row(k=1, seq=1, g="a", v=15), Row(k=3, seq=1, g="a", v=7)],
        2: [Row(k=2, seq=2, g="b", v=1), Row(k=4, seq=2, g="b", v=2)],
    }

    @reg.table(trigger="continuous")
    def bronze():
        return spark.createDataFrame(batches[state["cycle"]])

    @reg.table(trigger="continuous")
    def silver():
        target.upsert_batch(reg.read("bronze"))
        return target.current(spark)

    @reg.table(trigger="continuous")
    def gold():
        reg.read("silver")
        keys = reg.read("bronze").select("k").distinct()
        return fold.fold_trigger(spark, keys)

    root = str(tmp_path_factory.mktemp("runner_gold_"))
    runner = PipelineRunner(reg, root, clock=lambda: 0.0)

    def batch_gold():
        return {
            (r.g, r.n, r.v)
            for r in target.current(spark)
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("v").cast("long").alias("v"),
            )
            .collect()
        }

    for cycle in (0, 1, 2):
        state["cycle"] = cycle
        runner.run_cycle()
        got = {(r.g, r.n, r.v) for r in fold.current(spark).collect()}
        assert got == batch_gold(), f"cycle {cycle}"
        if cycle == 1:  # injected re-fire: identical delivery, no-op
            before = got
            runner.run_cycle()
            after = {(r.g, r.n, r.v) for r in fold.current(spark).collect()}
            assert after == before == batch_gold()


def test_fold_raises_loudly_when_watermark_vacuumed(spark, tmp_path_factory):
    """Retention contract: if the fold's watermark commit has been
    vacuumed (keep_versions too small for the fold lag), the fold
    raises StateVersionVacuumedError — never a silent full refold,
    which would double-count every key."""
    from db_cdc_poc_spark.streaming.gold import ChangelogFoldedAggregate
    from db_cdc_poc_spark.streaming.state import StateVersionVacuumedError

    target = CdcTarget(
        str(tmp_path_factory.mktemp("gold_vac_")),
        keys="k",
        sequence_by="seq",
        keep_versions=2,
        num_buckets=2,
    )
    fold = ChangelogFoldedAggregate(target, group_keys=["g"], measures=["v"])
    target.upsert_batch(spark.createDataFrame([Row(k=1, seq=0, g="a", v=1)]))
    fold.fold_trigger(spark)  # watermark = commit 1
    # many commits + compactions push commit 1 out of retention
    for s in range(1, 7):
        target.upsert_batch(
            spark.createDataFrame([Row(k=1, seq=s, g="a", v=s)])
        )
        target.state.snapshot(spark)
    with pytest.raises(StateVersionVacuumedError):
        fold.fold_trigger(spark)
