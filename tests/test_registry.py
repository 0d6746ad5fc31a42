"""Mini-DLT registry: declaration, LIVE-style resolution, topological
order, cycle detection, materialization."""

from __future__ import annotations

import pytest

from db_cdc_poc_spark.plans.registry import TableRegistry


def test_dependency_resolution_and_topo_order(spark):
    reg = TableRegistry(spark)

    @reg.table(tier="bronze")
    def base():
        return spark.range(10)

    @reg.table(tier="silver")
    def doubled():
        return reg.read("base").selectExpr("id * 2 AS id")

    @reg.table(tier="gold")
    def total():
        return reg.read("doubled").selectExpr("sum(id) AS s")

    [r] = reg.build("total").collect()
    assert r.s == 90
    order = reg.topological_order()
    assert order.index("base") < order.index("doubled") < order.index("total")
    assert reg.definition("doubled").deps == {"base"}


def test_duplicate_registration_rejected(spark):
    reg = TableRegistry(spark)

    @reg.table(name="t")
    def a():
        return spark.range(1)

    with pytest.raises(ValueError, match="already registered"):
        @reg.table(name="t")
        def b():
            return spark.range(1)


def test_cycle_detection(spark):
    reg = TableRegistry(spark)

    @reg.table()
    def x():
        return reg.read("y")

    @reg.table()
    def y():
        return reg.read("x")

    with pytest.raises(ValueError, match="cycle"):
        reg.build("x")


def test_unknown_table(spark):
    reg = TableRegistry(spark)
    with pytest.raises(KeyError, match="unknown table"):
        reg.build("nope")


def test_materialize_writes_parquet(spark, tmp_path_factory):
    reg = TableRegistry(spark)

    @reg.table()
    def nums():
        return spark.range(5)

    @reg.table()
    def squares():
        return reg.read("nums").selectExpr("id", "id * id AS sq")

    root = str(tmp_path_factory.mktemp("reg_mat_"))
    reg.materialize(root)
    back = spark.read.parquet(f"{root}/squares")
    assert {(r.id, r.sq) for r in back.collect()} == {(i, i * i) for i in range(5)}


def test_materialize_partitioned_and_partition_pruning(spark, tmp_path_factory):
    # SURVEY §4: gold/silver partitioned by store_id must turn a
    # store_id predicate into PartitionFilters (directory pruning at
    # the scan), not a post-scan data filter
    reg = TableRegistry(spark)

    @reg.table()
    def gold():
        return spark.range(100).selectExpr(
            "CAST(id % 4 AS INT) AS store_id", "id AS item_id", "id * 2 AS qty"
        )

    root = str(tmp_path_factory.mktemp("reg_part_"))
    reg.materialize(root, partition_by={"gold": ["store_id"]})
    # hive-style layout on disk
    from pathlib import Path

    assert (Path(root) / "gold" / "store_id=3").is_dir()
    back = spark.read.parquet(f"{root}/gold").filter("store_id = 3")
    plan = back._jdf.queryExecution().executedPlan().toString()
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert m and "store_id" in m[0], f"store_id not in PartitionFilters: {plan[:800]}"
    # the pruned scan reads only the one directory's rows
    assert back.count() == 25


def test_expectations_warn_drop_fail(spark):
    import pytest as _pytest

    from db_cdc_poc_spark.plans.registry import (
        Expectation,
        ExpectationError,
        TableRegistry,
    )

    reg = TableRegistry(spark)

    @reg.table(
        expect=[
            Expectation("positive_v", "v > 0", action="drop"),
            Expectation("small_v", "v < 100", action="warn"),
        ]
    )
    def facts():
        return spark.createDataFrame(
            [(1, 5), (2, -3), (3, 250), (4, None)], "id long, v int"
        )

    out = reg.build("facts")
    # drop removes v<=0 AND the NULL row (null condition = violation)
    assert sorted(r.id for r in out.collect()) == [1, 3]
    rep = reg.quality_report("facts")
    assert rep["positive_v"] == 2
    assert rep["small_v"] == 2  # 250 violates, NULL counts too; pre-drop

    reg2 = TableRegistry(spark)

    @reg2.table(expect=[Expectation("no_nulls", "v IS NOT NULL", action="fail")])
    def strict():
        return spark.createDataFrame([(1, None)], "id long, v int")

    with _pytest.raises(ExpectationError):
        reg2.build("strict")


def test_expectations_zero_violations_report(spark):
    from db_cdc_poc_spark.plans.registry import Expectation, TableRegistry

    reg = TableRegistry(spark)

    @reg.table(expect=[Expectation("id_nonneg", "id >= 0", action="warn")])
    def clean():
        return spark.range(10)

    reg.build("clean")
    assert reg.quality_report("clean") == {"id_nonneg": 0}
