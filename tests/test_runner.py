"""Trigger-aware pipeline runner (T5/R1)."""

from __future__ import annotations

import pytest

from db_cdc_poc_spark.plans.registry import TableRegistry
from db_cdc_poc_spark.plans.runner import PipelineRunner, parse_trigger


def test_parse_trigger():
    assert parse_trigger(None) == 0.0
    assert parse_trigger("continuous") == 0.0
    assert parse_trigger("5 minute") == 300.0
    assert parse_trigger("24 hours") == 86400.0
    with pytest.raises(ValueError):
        parse_trigger("whenever")


def test_runner_respects_trigger_cadence(spark, tmp_path_factory):
    reg = TableRegistry(spark)
    builds = {"dim": 0, "gold": 0}

    @reg.table(trigger="24 hours")
    def dim():
        builds["dim"] += 1
        return spark.range(3)

    @reg.table(trigger="5 minute")
    def gold():
        builds["gold"] += 1
        return reg.read("dim").selectExpr("sum(id) AS s")

    fake_now = [0.0]
    runner = PipelineRunner(
        reg, str(tmp_path_factory.mktemp("runner_")), clock=lambda: fake_now[0]
    )

    assert set(runner.run_cycle()) == {"dim", "gold"}  # first tick: all due
    fake_now[0] = 400.0  # 6.7 min: gold due, dim not
    refreshed = runner.run_cycle()
    assert "gold" in refreshed and "dim" not in refreshed
    fake_now[0] = 500.0  # nothing due
    assert runner.run_cycle() == []
    fake_now[0] = 90000.0  # past 24h: both due
    assert set(runner.run_cycle()) == {"dim", "gold"}


def test_runner_materializes_dependency_order(spark, tmp_path_factory):
    reg = TableRegistry(spark)

    @reg.table(trigger="continuous")
    def base():
        return spark.range(4)

    @reg.table(trigger="continuous")
    def derived():
        return reg.read("base").selectExpr("id * 10 AS x")

    root = str(tmp_path_factory.mktemp("runner_mat_"))
    runner = PipelineRunner(reg, root, clock=lambda: 0.0)
    refreshed = runner.run_cycle()
    assert refreshed.index("base") < refreshed.index("derived")
    assert {r.x for r in spark.read.parquet(f"{root}/derived").collect()} == {
        0, 10, 20, 30,
    }


def test_run_cycle_executes_each_builder_exactly_once(spark, tmp_path_factory):
    """Builders may carry side effects (dedup-index appends, CDC
    upserts), so one trigger must execute each due builder exactly
    once. The pre-fix runner built everything in due() (dependency
    discovery), cleared the memo, and built AGAIN in materialize() —
    double-applying every side effect on the first cycle. Caught by
    the sf1 composed pipeline soak (PIPELINE_SOAK_sf1.txt)."""
    reg = TableRegistry(spark)
    calls = {"base": 0, "derived": 0}

    @reg.table(trigger="continuous")
    def base():
        calls["base"] += 1
        return spark.range(3)

    @reg.table(trigger="continuous")
    def derived():
        calls["derived"] += 1
        return reg.read("base").selectExpr("id + 1 AS y")

    root = str(tmp_path_factory.mktemp("runner_once_"))
    runner = PipelineRunner(reg, root, clock=lambda: 0.0)
    runner.run_cycle()
    assert calls == {"base": 1, "derived": 1}
    runner.run_cycle()
    assert calls == {"base": 2, "derived": 2}


def test_run_cycle_materialized_output_matches_side_effect(spark, tmp_path_factory):
    """The parquet a cycle materializes must be the SAME evaluation the
    cycle's side effects consumed: a builder whose output depends on
    its own prior side effect (the streaming dedup shape — decisions
    differ if the batch is probed again post-append) must not diverge
    between the sink write and the state write."""
    reg = TableRegistry(spark)
    journal: list[int] = []  # stand-in for an external state table

    @reg.table(trigger="continuous")
    def effectful():
        # like process_batch: the result depends on how often it ran
        journal.append(len(journal))
        return spark.range(len(journal)).selectExpr("id AS n")

    @reg.table(trigger="continuous")
    def consumer():
        rows = reg.read("effectful").collect()  # upsert stand-in
        journal.append(100 + len(rows))
        return reg.read("effectful")

    root = str(tmp_path_factory.mktemp("runner_diverge_"))
    runner = PipelineRunner(reg, root, clock=lambda: 0.0)
    runner.run_cycle()
    # one execution -> effectful ran once -> its table has exactly 1 row
    # and the consumer saw that same 1-row evaluation
    assert journal == [0, 101]
    assert spark.read.parquet(f"{root}/effectful").count() == 1
    assert spark.read.parquet(f"{root}/consumer").count() == 1
