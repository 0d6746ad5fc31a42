"""Deterministic hash sampling / splits: repeatability, proportions,
hashlib ground truth, map-only plan."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from db_cdc_poc_spark.operators.sampling import (
    _MASK63,
    hash_bucket,
    split_assign,
)


def _docs(spark, n=2000):
    return spark.range(n).select(F.col("id").alias("doc_id"))


def test_hash_bucket_matches_hashlib(spark):
    df = _docs(spark, 50)
    got = {
        r.doc_id: r.b
        for r in df.select(
            "doc_id", hash_bucket("doc_id", salt="s1").alias("b")
        ).collect()
    }
    for i in range(50):
        h = int.from_bytes(hashlib.md5(f"s1:{i}".encode()).digest()[:8], "big")
        assert got[i] == (h & _MASK63) % 1_000_000, i


def test_split_assign_disjoint_exhaustive_proportional(spark):
    df = _docs(spark)
    out = split_assign(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000  # exhaustive, disjoint by construction
    assert abs(counts["train"] / 2000 - 0.8) < 0.05
    assert abs(counts["val"] / 2000 - 0.1) < 0.03


def test_stratified_sample_rates_and_nesting(spark):
    from db_cdc_poc_spark.operators.sampling import stratified_sample

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 == 0, "rare").otherwise("common").alias("lang"),
    )
    out = stratified_sample(df, "doc_id", "lang", {"common": 0.25, "rare": 1.0})
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["rare"] == 1000                 # rate 1.0 keeps everything
    assert abs(counts["common"] - 750) < 120      # ~25% of 3000

    # nested property: raising a stratum's rate keeps a superset
    small = {r.doc_id for r in stratified_sample(
        df, "doc_id", "lang", {"common": 0.1, "rare": 1.0}).collect()}
    big = {r.doc_id for r in out.collect()}
    assert small <= big


def test_stratified_sample_default_rate_drops_unlisted(spark):
    from db_cdc_poc_spark.operators.sampling import stratified_sample

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 50, "keep").otherwise("other").alias("lang"),
    )
    out = stratified_sample(df, "doc_id", "lang", {"keep": 1.0}).collect()
    assert {r.lang for r in out} == {"keep"}
    assert len(out) == 50


def test_stratified_sample_is_map_only(spark):
    from db_cdc_poc_spark.operators.sampling import stratified_sample

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    )
    plan = (
        stratified_sample(df, "doc_id", "lang", {"en": 0.5})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_top_k_per_stratum_exact_k_and_deterministic(spark):
    from db_cdc_poc_spark.operators.sampling import top_k_per_stratum

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).cast("string").alias("grp_a"),
    )
    out = top_k_per_stratum(df, "doc_id", ["grp_a"], k=7, salt="t")
    counts = {r.grp_a: r.n for r in out.groupBy("grp_a").agg(F.count("*").alias("n")).collect()}
    assert counts == {str(i): 7 for i in range(5)}
    again = top_k_per_stratum(df, "doc_id", ["grp_a"], k=7, salt="t")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))
    # raising k extends the draw (nested samples)
    bigger = top_k_per_stratum(df, "doc_id", ["grp_a"], k=9, salt="t")
    assert {r.doc_id for r in out.collect()} <= {r.doc_id for r in bigger.collect()}


def test_top_k_per_stratum_prefilter_preserves_result(spark):
    from db_cdc_poc_spark.operators.sampling import top_k_per_stratum

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("string").alias("grp_a"),
    )
    exact = top_k_per_stratum(df, "doc_id", ["grp_a"], k=5, salt="p")
    pre = top_k_per_stratum(
        df, "doc_id", ["grp_a"], k=5, salt="p", prefilter_rate=0.1
    )
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, pre.collect()))


# ---------------------------------------------------------------------------
# temperature_mix
# ---------------------------------------------------------------------------


def test_temperature_mix_flattens_and_is_deterministic(spark):
    from db_cdc_poc_spark.operators.sampling import temperature_mix

    # one giant stratum, one small one: T=0.5 should keep the small
    # stratum whole and downsample the giant toward sqrt proportions
    rows = [(i, "big") for i in range(1900)] + [(i + 10_000, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = temperature_mix(df, "doc_id", "source", target_rows=400).collect()
    by_src = {}
    for r in kept:
        by_src[r.source] = by_src.get(r.source, 0) + 1
    # weights: w_big = sqrt(1900) ~ 43.6, w_small = 10 -> p_small ~ 0.187
    # keep_small = min(1, 400*0.187/100) = 0.746; keep_big = 400*0.813/1900 = 0.171
    assert abs(by_src["big"] / 1900 - 0.171) < 0.05
    assert abs(by_src["small"] / 100 - 0.746) < 0.12
    # small stratum's SHARE is far above its raw 5%
    assert by_src["small"] / len(kept) > 0.15
    # deterministic: identical second draw
    again = temperature_mix(df, "doc_id", "source", target_rows=400).collect()
    assert {r.doc_id for r in again} == {r.doc_id for r in kept}


def test_temperature_mix_small_stratum_kept_whole(spark):
    from db_cdc_poc_spark.operators.sampling import temperature_mix

    rows = [(i, "a") for i in range(50)] + [(i + 100, "b") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # target >= input: every row keeps (frac clamps at 1.0)
    assert temperature_mix(df, "doc_id", "source", target_rows=1000).count() == 100


# ---------------------------------------------------------------------------
# training_shards
# ---------------------------------------------------------------------------


def test_training_shards_balanced_deterministic_dense(spark):
    from db_cdc_poc_spark.operators.sampling import training_shards

    df = _docs(spark, 4000)
    out = training_shards(df, "doc_id", n_shards=8).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    # all 8 shards used, roughly balanced
    assert set(by_shard) == set(range(8))
    sizes = [len(v) for v in by_shard.values()]
    assert max(sizes) - min(sizes) < 200
    # positions are dense 1..n within each shard
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # rerun identical
    again = training_shards(df, "doc_id", n_shards=8).collect()
    assert {(r.doc_id, r.shard, r.pos) for r in again} == {
        (r.doc_id, r.shard, r.pos) for r in out
    }
    # repartitioning the input does not change the assignment
    shuffled = training_shards(df.repartition(13), "doc_id", n_shards=8).collect()
    assert {(r.doc_id, r.shard, r.pos) for r in shuffled} == {
        (r.doc_id, r.shard, r.pos) for r in out
    }


def test_training_shards_no_global_sort(spark):
    from db_cdc_poc_spark.operators.sampling import training_shards

    df = _docs(spark, 100)
    plan = (
        training_shards(df, "doc_id")._jdf.queryExecution().executedPlan().toString()
    )
    # the window shuffles BY SHARD (hashpartitioning), never a
    # single-partition or range sort
    assert "rangepartitioning" not in plan
    assert "SinglePartition" not in plan


# ---------------------------------------------------------------------------
# weighted_sample
# ---------------------------------------------------------------------------


def test_weighted_sample_proportional_and_deterministic(spark):
    from db_cdc_poc_spark.operators.sampling import weighted_sample

    # 1000 light rows (w=1) + 100 heavy rows (w=50): heavy rows should
    # be picked at ~50x the light rate
    rows = [(i, 1) for i in range(1000)] + [(i + 10_000, 50) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    kept = weighted_sample(df, "doc_id", F.col("w"), target_rows=300).collect()
    heavy = sum(1 for r in kept if r.doc_id >= 10_000)
    light = len(kept) - heavy
    # expectations: W=6000; heavy p=min(1, 300*50/6000)=1.0 -> all 100
    # light p=300*1/6000=0.05 -> ~50
    assert heavy == 100
    assert abs(light - 50) < 25
    again = weighted_sample(df, "doc_id", F.col("w"), target_rows=300).collect()
    assert {r.doc_id for r in again} == {r.doc_id for r in kept}


def test_weighted_sample_zero_weight_never_kept(spark):
    from db_cdc_poc_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 10)], "doc_id long, w long"
    )
    kept = {r.doc_id for r in weighted_sample(df, "doc_id", F.col("w"), 100).collect()}
    assert kept == {3}


# ---------------------------------------------------------------------------
# epoch_upsample
# ---------------------------------------------------------------------------


def test_epoch_upsample_replication_and_drop(spark):
    from db_cdc_poc_spark.operators.sampling import epoch_upsample

    rows = [(1, "gold"), (2, "gold"), (3, "crawl"), (4, "junk")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = epoch_upsample(df, "source", {"gold": 3, "junk": 0}).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.epoch)
    # gold rows appear 3x with epochs 0..2; crawl once; junk dropped
    assert sorted(by_doc[1]) == [0, 1, 2]
    assert sorted(by_doc[2]) == [0, 1, 2]
    assert by_doc[3] == [0]
    assert 4 not in by_doc


def test_epoch_upsample_is_map_only(spark):
    from db_cdc_poc_spark.operators.sampling import epoch_upsample

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    plan = (
        epoch_upsample(df, "source", {"a": 2})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_weighted_sample_null_and_all_zero_weights(spark):
    from db_cdc_poc_spark.operators.sampling import weighted_sample

    # NULL weight == zero weight: never kept (not kept-with-p=1)
    df = spark.createDataFrame(
        [(1, None), (2, 10)], "doc_id long, w long"
    )
    kept = {r.doc_id for r in weighted_sample(df, "doc_id", F.col("w"), 1).collect()}
    assert kept == {2}
    # all-zero total: empty result, not a divide-by-zero
    zeros = spark.createDataFrame([(1, 0), (2, 0)], "doc_id long, w long")
    assert weighted_sample(zeros, "doc_id", F.col("w"), 10).count() == 0


def test_token_budget_fill_rejects_overflow_inputs(spark):
    """The int64 validity bound (max(n)*sum(w) < 2^63) is enforced up
    front with remediation guidance, instead of an ANSI overflow
    mid-job (r7 ADVICE item 3)."""
    import pytest

    from db_cdc_poc_spark.operators.sampling import token_budget_fill

    df = spark.createDataFrame(
        [("a", 10**13, 10**6), ("b", 10**13, 10**6)],
        "domain string, n_tokens long, weight long",
    )
    with pytest.raises(ValueError, match="validity bound"):
        token_budget_fill(df, "domain", "n_tokens", "weight", 10**12)
    # same ratios, coarser weights: fine
    ok = spark.createDataFrame(
        [("a", 10**13, 1), ("b", 10**13, 1)],
        "domain string, n_tokens long, weight long",
    )
    rows = token_budget_fill(
        ok, "domain", "n_tokens", "weight", 10**12
    ).collect()
    assert sum(r.alloc_tokens for r in rows) == 10**12
