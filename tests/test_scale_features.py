"""Scale features: partition pruning on partitioned layouts and
approximate aggregates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from db_cdc_poc_spark.partitioning import (
    _already_repartitioned,
    _parse_bytes,
    metadata_row_count,
    scaled_spread_target,
    spread_scan,
)
from db_cdc_poc_spark.sources.testdata import load_table

from .conftest import SF_DIR


def test_partition_pruning_reaches_scan(spark, tmp_path_factory):
    # gold/silver tables partitioned by a low-cardinality key let the
    # scan skip directories entirely (SURVEY §4: engine design choice)
    path = str(tmp_path_factory.mktemp("part_")) + "/events_by_type"
    load_table(spark, SF_DIR, "events").write.partitionBy("event_type").parquet(path)
    df = spark.read.parquet(path).filter(F.col("event_type") == "click")
    n = df.count()
    assert n > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    part_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert part_lines and "event_type" in part_lines[0], (
        "partition filter must prune at the scan, not post-filter"
    )


def test_approx_count_distinct_within_tolerance(spark):
    ev = load_table(spark, SF_DIR, "events")
    exact = ev.select(F.count_distinct("user_id")).collect()[0][0]
    approx = ev.select(F.approx_count_distinct("user_id", rsd=0.05)).collect()[0][0]
    assert abs(approx - exact) / exact <= 0.15


def test_approx_percentile(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    [r] = li.select(
        F.percentile_approx("l_quantity", [0.5, 0.95], 1000).alias("p")
    ).collect()
    p50, p95 = r.p
    assert 1 <= p50 <= 50 and p50 < p95 <= 50


def test_ann_recall_at_sf01(spark):
    # VERDICT r2 item 8: recall@5 >= 0.9 vs the exact top-k at sf0.1.
    # 5th-neighbor cosines in this fixture sit at ~0.33-0.37
    # (theta ~ 70 deg, per-table p = 0.607^4 ~ 0.14), so 32 tables give
    # per-neighbor miss ~(0.86)^32 ~ 1%. Random near-orthogonal vectors
    # make high recall inherently candidate-heavy (~87% of the corpus);
    # duplicate-grade similarity is where bucketing prunes hard (see
    # test_neardup_bucketed_recall_and_selectivity_on_planted_dups).
    from db_cdc_poc_spark.operators import similarity as sim

    sf01 = "/root/testdata/sf0.1"
    emb = load_table(spark, sf01, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk(queries, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.ann_topk(queries, emb, k=5, tables=32, bits=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"ANN recall@5 at sf0.1 too low: {recall}"


def test_hll_sketch_agg_mergeable(spark):
    # the 100 TB pre-aggregation pattern: per-partition/group HLL
    # sketches persisted as binary, merged later — estimates must track
    # the exact count and the union of group sketches must equal a
    # global sketch over the same rows
    ev = load_table(spark, SF_DIR, "events")
    exact = ev.select(F.count_distinct("user_id")).collect()[0][0]
    per_group = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_n"),
    )
    rows = per_group.select(
        "event_type", F.hll_sketch_estimate("sk").alias("est"), "exact_n"
    ).collect()
    for r in rows:
        assert abs(r.est - r.exact_n) / max(r.exact_n, 1) < 0.1, r.event_type
    merged = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).collect()[0][0]
    assert abs(merged - exact) / exact < 0.1


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Catalyst's runtime bloom-filter join pruning: a selective filter
    on the build side injects a might_contain() predicate into the
    probe-side SCAN, so at 100 TB the big fact table drops non-joining
    rows before the shuffle. Default thresholds
    (applicationSideScanSizeThreshold=10GB) mean it fires exactly at
    the scale it pays off; here we lower them to prove the mechanism
    and that results are unchanged.
    """
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # SMJ, not broadcast
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF_DIR, "lineitem")
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "bloom filter must reach the probe side"
        assert "bloom_filter_agg" in plan
        with_bloom = j.count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    no_bloom = (
        load_table(spark, SF_DIR, "lineitem")
        .join(
            load_table(spark, SF_DIR, "orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert with_bloom == no_bloom > 0


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling, proven end-to-end: a 90%-hot key in a
    sort-merge join gets its shuffle partition split at runtime
    (AQEShuffleRead ... skewed in the FINAL adaptive plan). This is the
    no-code-change half of the skew story; q51's salted join is the
    explicit half for aggregations AQE can't split."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id") % 100).alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = fact.join(dim, "k").select((F.col("v") + F.col("w")).alias("x"))
        n = len(j.collect())  # finalize THIS df's adaptive plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert n == 200_000
        assert "isFinalPlan=true" in plan
        assert "skewed" in plan, "AQE must split the hot partition"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_metadata_row_count_matches_count(spark):
    docs = load_table(spark, SF_DIR, "documents")
    n = metadata_row_count(docs)
    assert n is not None
    assert n == docs.count()


def test_metadata_row_count_refuses_cardinality_changes(spark):
    docs = load_table(spark, SF_DIR, "documents")
    assert metadata_row_count(docs.filter(F.col("doc_id") > 3)) is None
    assert metadata_row_count(docs.limit(2)) is None
    assert metadata_row_count(docs.groupBy("lang").count()) is None
    # projections/repartitions preserve rows and must still answer
    assert metadata_row_count(
        docs.select("doc_id").repartition(4)
    ) == docs.count()


def test_scaled_spread_target_bounds(spark):
    par = spark.sparkContext.defaultParallelism
    assert scaled_spread_target(spark, None) == par
    assert scaled_spread_target(spark, 1, 128 << 10) == 1
    assert scaled_spread_target(spark, (128 << 10) * par * 10, 128 << 10) == par
    assert (
        scaled_spread_target(spark, (128 << 10) * 3, 128 << 10)
        == min(3, par)
    )


# -- structural _already_repartitioned; _parse_bytes suffixes ------------------


def test_already_repartitioned_ignores_lookalike_column_names(spark, tmp_path):
    """ADVICE r12: a column literally named `rebalance_flag` (or any
    name embedding 'Repartition'/'Rebalance') appears in the analyzed
    plan STRING; the structural walk must not be fooled into skipping
    a needed spread."""
    src = str(tmp_path / "lookalike")
    spark.range(5_000).selectExpr(
        "id", "id % 2 = 0 AS rebalance_flag", "id AS RepartitionCol"
    ).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    assert not _already_repartitioned(df)
    # per_task_bytes=1 forces a wide size-scaled target so the test
    # exercises the structural detection, not the r14 size policy
    out = spread_scan(df, per_task_bytes=1)
    assert out is not df  # the spread fires despite the lookalike names
    assert out.count() == 5_000


def test_already_repartitioned_scoped_to_own_lineage(spark, tmp_path):
    """VERDICT r12 #2: a repartition buried in a JOINED branch does not
    govern the joined frame's distribution — the join sets its own —
    so it must not suppress a spread of the (narrow) joined frame."""
    fact_src = str(tmp_path / "fact")
    spark.range(5_000).selectExpr("id", "id % 50 AS k").coalesce(1).write.parquet(
        fact_src
    )
    fact = spark.read.parquet(fact_src)
    dim = (
        spark.range(50)
        .selectExpr("id AS k", "id * 10 AS dim_v")
        .repartition(8, "k")  # the unrelated-branch repartition
    )
    joined = fact.join(F.broadcast(dim), "k")
    assert not _already_repartitioned(joined)
    # per_task_bytes=1: wide size-scaled target, so the assertion tests
    # lineage scoping rather than the r14 size policy
    out = spread_scan(joined, per_task_bytes=1)
    assert out is not joined  # narrow fact scan still gets the spread
    assert out.count() == 5_000


def test_already_repartitioned_sees_through_projections(spark, tmp_path):
    """The positive case still holds through Project/Filter wrappers:
    a keyed upstream repartition governs the frame and must be left
    alone (the q26 stomp guard)."""
    src = str(tmp_path / "keyed")
    spark.range(5_000).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(src)
    keyed = (
        spark.read.parquet(src)
        .repartition(8, "id")
        .filter("v >= 0")
        .select("id", "v")
    )
    assert _already_repartitioned(keyed)
    assert spread_scan(keyed) is keyed


def test_parse_bytes_suffixes_and_fallback():
    assert _parse_bytes("134217728b") == 128 << 20
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("1t") == 1 << 40
    assert _parse_bytes("2tb") == 2 << 40
    assert _parse_bytes("1p") == 1 << 50
    assert _parse_bytes("1pb") == 1 << 50
    # junk falls back to the default instead of raising (ADVICE r12)
    assert _parse_bytes("not-a-size") == 128 << 20
    assert _parse_bytes("not-a-size", default=7) == 7


def test_spread_scan_survives_t_suffix_conf(spark, tmp_path):
    """A session legally configured with maxPartitionBytes='1t' must
    not crash the width estimate (it parsed as int('1t') before)."""
    src = str(tmp_path / "tconf")
    spark.range(1_000).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1t")
    try:
        out = spread_scan(df)
        assert out.count() == 1_000
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
