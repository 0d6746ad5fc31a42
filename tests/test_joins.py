"""Join strategy extensions: as-of join, salted join, range join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from db_cdc_poc_spark.operators.joins import asof_join, salted_join


def test_asof_join_backward_inclusive(spark):
    trades = spark.createDataFrame(
        [("A", 10, 1), ("A", 20, 2), ("A", 5, 3), ("B", 7, 4)],
        "sym string, t long, trade_id long",
    )
    quotes = spark.createDataFrame(
        [("A", 5, 100.0), ("A", 10, 101.0), ("A", 15, 102.0), ("B", 99, 999.0)],
        "sym string, t long, px double",
    )
    out = {
        r.trade_id: r.px
        for r in asof_join(
            trades, quotes, keys="sym", left_time="t", right_time="t",
            value_cols=["px"],
        ).collect()
    }
    assert out[1] == 101.0  # t=10 matches quote at exactly 10 (inclusive)
    assert out[2] == 102.0  # t=20 -> latest prior quote t=15
    assert out[3] == 100.0  # t=5 matches quote at 5
    assert out[4] is None   # B has no quote at or before t=7


def test_asof_join_preserves_left_cardinality(spark):
    left = spark.createDataFrame([("A", i) for i in range(50)], "k string, t long")
    right = spark.createDataFrame([("A", 10, 1.0)], "k string, t long, v double")
    out = asof_join(left, right, keys="k", left_time="t", right_time="t",
                    value_cols=["v"])
    assert out.count() == 50
    assert out.filter("t < 10 AND v IS NOT NULL").count() == 0
    assert out.filter("t >= 10 AND v IS NULL").count() == 0


def test_asof_join_single_shuffle(spark):
    left = spark.createDataFrame([("A", 1)], "k string, t long")
    right = spark.createDataFrame([("A", 1, 1.0)], "k string, t long, v double")
    plan = (
        asof_join(left, right, keys="k", left_time="t", right_time="t",
                  value_cols=["v"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the union+window plan has no join operator at all, hence no pair
    # blowup; exactly one hashpartitioning exchange for the window
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_salted_join_matches_plain_join(spark):
    big = spark.createDataFrame(
        [(i % 3, f"p{i}") for i in range(300)], "k long, payload string"
    )
    small = spark.createDataFrame([(0, "x"), (1, "y"), (2, "z")], "k long, v string")
    plain = sorted(
        (r.k, r.payload, r.v) for r in big.join(small, "k").collect()
    )
    salted = sorted(
        (r.k, r.payload, r.v) for r in salted_join(big, small, "k", salt=4).collect()
    )
    assert salted == plain


def test_salted_join_left_outer(spark):
    big = spark.createDataFrame([(1, "a"), (9, "b")], "k long, payload string")
    small = spark.createDataFrame([(1, "x")], "k long, v string")
    rows = {r.payload: r.v for r in salted_join(big, small, "k", how="left").collect()}
    assert rows == {"a": "x", "b": None}


def test_range_join_matches_naive_nonequi(spark):
    from db_cdc_poc_spark.operators.joins import range_join

    pts = spark.createDataFrame(
        [(k, t, float(t)) for k in (1, 2) for t in range(0, 100, 7)],
        "user_id long, t long, value double",
    )
    wins = spark.createDataFrame(
        [(100 + i, k, lo, lo + 13) for i, (k, lo) in enumerate(
            [(1, 0), (1, 40), (2, 11), (2, 90), (1, 95)]
        )],
        "win_id long, user_id long, lo long, hi long",
    )
    got = sorted(
        (r.win_id, r.t)
        for r in range_join(
            pts, wins, "t", "lo", "hi", bucket_width=10, keys="user_id"
        ).collect()
    )
    naive = sorted(
        (r.win_id, r.t)
        for r in pts.join(
            wins,
            (pts.user_id == wins.user_id)
            & (pts.t >= wins.lo)
            & (pts.t <= wins.hi),
        ).collect()
    )
    assert got == naive and got


def test_range_join_is_hash_join_not_nested_loop(spark):
    from db_cdc_poc_spark.operators.joins import range_join

    pts = spark.range(1000).select(
        (F.col("id") % 10).alias("user_id"), F.col("id").alias("t")
    )
    wins = spark.range(100).select(
        F.col("id").alias("win_id"),
        (F.col("id") % 10).alias("user_id"),
        (F.col("id") * 7).alias("lo"),
        (F.col("id") * 7 + 20).alias("hi"),
    )
    plan = (
        range_join(pts, wins, "t", "lo", "hi", bucket_width=16, keys="user_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


# ---------------------------------------------------------------------------
# blocked_fuzzy_pairs
# ---------------------------------------------------------------------------


def test_blocked_fuzzy_pairs_blocks_and_verifies(spark):
    from db_cdc_poc_spark.operators.joins import blocked_fuzzy_pairs

    df = spark.createDataFrame(
        [("red bolt",), ("rod bolt",), ("red ring",), ("blue bolt",), ("red bolt",)],
        "name string",
    )
    got = {
        (r.key_a, r.key_b): r.distance
        for r in blocked_fuzzy_pairs(
            df, "name", block=F.element_at(F.split("name", " "), -1), max_distance=2
        ).collect()
    }
    # same-noun block, distance <= 2; "red ring" is in another block so the
    # (red bolt, red ring) pair (distance 3 anyway) never forms
    assert got == {("red bolt", "rod bolt"): 1}


def test_blocked_fuzzy_pairs_no_cartesian_and_distinct_first(spark):
    from db_cdc_poc_spark.operators.joins import blocked_fuzzy_pairs

    df = spark.createDataFrame([("red bolt",)] * 100, "name string")
    out = blocked_fuzzy_pairs(
        df, "name", block=F.element_at(F.split("name", " "), -1)
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    # 100 copies of one name: distinct-first means zero pairs, not 4950
    assert out.count() == 0
