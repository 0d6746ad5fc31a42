"""Persisted PQ codes on the IVF index (VERDICT r11 ask #5): the ADC
probe off the STORED codes must equal the inline q164 composition
pair-for-pair, appends must equal a rebuild, recluster must keep the
codes consistent, and stale/torn code tables must be refused loudly."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from db_cdc_poc_spark.operators.vector_index import (
    IvfIndex,
    pq_adc_topk,
    pq_codes,
    refine_centroids,
)
from db_cdc_poc_spark.queries import REGISTRY, _pq_trained
from db_cdc_poc_spark.sources.testdata import load_table

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def pq_built(spark, tmp_path_factory):
    emb = load_table(spark, SF_DIR, "embeddings")
    coarse, cb = _pq_trained(spark, SF_DIR)
    idx = IvfIndex.build(
        emb,
        centroids=coarse.select(F.col("list_id").alias("vec_id"), "embedding"),
        path=str(tmp_path_factory.mktemp("ivfpq_")) + "/index",
    )
    idx.build_pq(spark, cb, m=8)
    return idx, emb, coarse, cb


def test_probe_adc_matches_inline_q164(spark, pq_built):
    """The stored-index serving path == the inline residual IVF-PQ
    composition (same training, same routing, same ADC), row for row."""
    idx, emb, _, _ = pq_built
    queries = emb.filter(F.col("vec_id") < 10)
    got = sorted(
        map(tuple, idx.probe_adc(spark, queries, k_top=5, nprobe=4).collect())
    )
    want = sorted(
        map(tuple, REGISTRY["q164_ivfpq_topk"].fn(spark, SF_DIR).collect())
    )
    assert got == want and got


def test_probe_adc_codes_scan_is_partition_pruned(spark, pq_built):
    idx, emb, _, _ = pq_built
    df = idx.probe_adc(spark, emb.filter(F.col("vec_id") < 3), k_top=3, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pruned = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "list_id" in ln and "IN" in ln.upper()
    ]
    assert pruned, "ADC probe must prune unprobed code partitions at the scan"


def test_pq_append_equals_rebuild(spark, tmp_path_factory):
    emb = load_table(spark, SF_DIR, "embeddings")
    coarse, cb = _pq_trained(spark, SF_DIR)
    cents = coarse.select(F.col("list_id").alias("vec_id"), "embedding")
    inc = IvfIndex.build(
        emb.filter(F.col("vec_id") % 2 == 0), centroids=cents,
        path=str(tmp_path_factory.mktemp("ivfpqa_")) + "/i",
    )
    inc.build_pq(spark, cb, m=8)
    inc.append(emb.filter(F.col("vec_id") % 2 != 0))
    full = IvfIndex.build(
        emb, centroids=cents, path=str(tmp_path_factory.mktemp("ivfpqb_")) + "/i"
    )
    full.build_pq(spark, cb, m=8)
    cols = ["vec_id", "list_id", "pq_code", "err_micro"]

    def codes_of(ix):
        return sorted(
            (int(r.vec_id), int(r.list_id), int(r.pq_code), int(r.err_micro))
            for r in spark.read.parquet(f"{ix.path}/pq_codes").select(*cols).collect()
        )

    assert codes_of(inc) == codes_of(full) and codes_of(inc)
    queries = emb.filter(F.col("vec_id") < 6)
    a = sorted(map(tuple, inc.probe_adc(spark, queries, k_top=5, nprobe=4).collect()))
    b = sorted(map(tuple, full.probe_adc(spark, queries, k_top=5, nprobe=4).collect()))
    assert a == b and a


def test_recluster_keeps_codes_consistent(spark, tmp_path_factory):
    """After a recluster, the stored codes must equal a from-scratch
    re-encode against the updated codebooks (and probe_adc still runs)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    coarse, cb = _pq_trained(spark, SF_DIR)
    cents = coarse.select(F.col("list_id").alias("vec_id"), "embedding")
    idx = IvfIndex.build(
        emb, centroids=cents, path=str(tmp_path_factory.mktemp("ivfpqr_")) + "/i"
    )
    idx.build_pq(spark, cb, m=8)
    some_lists = sorted(
        int(r.list_id)
        for r in spark.read.parquet(f"{idx.path}/lists")
        .select("list_id").distinct().collect()
    )[:3]
    idx.recluster(spark, list_ids=some_lists, iters=1)

    def codes_set():
        return sorted(
            (int(r.vec_id), int(r.list_id), int(r.pq_code))
            for r in spark.read.parquet(f"{idx.path}/pq_codes")
            .select("vec_id", "list_id", "pq_code").collect()
        )

    after_recluster = codes_set()
    idx.refresh_pq(spark)  # from-scratch re-encode = the ground truth
    assert after_recluster == codes_set()
    assert idx.probe_adc(
        spark, emb.filter(F.col("vec_id") < 5), k_top=3, nprobe=2
    ).count() > 0


def test_probe_adc_refuses_stale_and_torn_codes(spark, tmp_path_factory):
    emb = load_table(spark, SF_DIR, "embeddings")
    coarse, cb = _pq_trained(spark, SF_DIR)
    cents = coarse.select(F.col("list_id").alias("vec_id"), "embedding")
    idx = IvfIndex.build(
        emb, centroids=cents, path=str(tmp_path_factory.mktemp("ivfpqg_")) + "/i"
    )
    idx.build_pq(spark, cb, m=8)
    # torn: drop one code partition (the crash window between the lists
    # write and the code write). The r13 torn check is partition-
    # pruned, so probe with nprobe >= nlist to guarantee the victim is
    # in the probed set.
    victims = sorted(
        int(r.list_id)
        for r in spark.read.parquet(f"{idx.path}/pq_codes")
        .select("list_id").distinct().collect()
    )
    shutil.rmtree(f"{idx.path}/pq_codes/list_id={victims[0]}")
    spark.catalog.refreshByPath(f"{idx.path}/pq_codes")
    with pytest.raises(ValueError, match="torn"):
        idx.probe_adc(
            spark, emb.filter(F.col("vec_id") < 3), nprobe=len(victims)
        )
    # documented r13 behavior: a tear confined to an UNPROBED list does
    # not fire (the check only counts probed partitions — the hot-path
    # cost fix); it surfaces when that list is probed.
    one_q = emb.filter(F.col("vec_id") == 0)
    try:
        n = idx.probe_adc(spark, one_q, k_top=3, nprobe=1).count()
        assert n >= 0  # ran without tripping on the unprobed tear
    except ValueError as e:
        # the single probed list CAN be the victim; only 'torn' is legal
        assert "torn" in str(e)
    idx.refresh_pq(spark)  # the documented repair
    assert idx.probe_adc(spark, emb.filter(F.col("vec_id") < 3)).count() > 0
    # stale: swap the coarse codebook under the codes (external retrain)
    cent = spark.read.parquet(f"{idx.path}/centroids")
    from db_cdc_poc_spark.operators.similarity import norm

    shifted_rows = cent.select(
        "cid",
        F.transform("ce", lambda x: x + F.lit(0.25)).alias("ce"),
    ).withColumn("cen", norm("ce")).collect()  # pin before the overwrite
    spark.createDataFrame(
        shifted_rows, "cid long, ce array<double>, cen double"
    ).write.mode("overwrite").parquet(f"{idx.path}/centroids")
    spark.catalog.refreshByPath(f"{idx.path}/centroids")
    with pytest.raises(ValueError, match="different coarse codebook"):
        idx.probe_adc(spark, emb.filter(F.col("vec_id") < 3))


def _vecs(spark, rows, dim=4):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )


def test_pq_adc_rejects_residual_codes_without_centroids(spark):
    corpus = _vecs(spark, [(1, [0.1, 0.2, 0.3, 0.4]), (2, [0.4, 0.3, 0.2, 0.1])])
    cb = _vecs(spark, [(10, [0.0, 0.0, 0.0, 0.0]), (11, [0.5, 0.5, 0.5, 0.5])])
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 0.0]), (1, [1.0, 1.0, 1.0, 1.0])],
        "list_id long, embedding array<double>",
    )
    codes = pq_codes(corpus, cb, m=2, coarse_centroids=cents)
    assert "list_id" in codes.columns
    with pytest.raises(ValueError, match="list_id"):
        pq_adc_topk(codes, corpus, cb, m=2, k_top=1)
    # the documented escape hatch for genuinely flat codes still works
    flat = pq_codes(corpus, cb, m=2)
    assert pq_adc_topk(flat, corpus, cb, m=2, k_top=1).count() == 2


def test_lloyd_mean_rejects_out_of_range_vectors(spark):
    seeds = _vecs(spark, [(0, [0.0, 0.0, 0.0, 0.0])])
    train = _vecs(spark, [(1, [0.5, 0.5, 0.5, 2000.0]), (2, [0.1, 0.1, 0.1, 0.1])])
    with pytest.raises(ValueError, match="1024"):
        refine_centroids(train, seeds, "vec_id", "embedding", iters=1)
    # negative out-of-range is the actually-dangerous direction
    train_neg = _vecs(spark, [(1, [0.5, 0.5, 0.5, -2000.0])])
    with pytest.raises(ValueError, match="1024"):
        refine_centroids(train_neg, seeds, "vec_id", "embedding", iters=1)
    # in-range trains fine
    assert len(refine_centroids(
        _vecs(spark, [(1, [0.5, 0.5, 0.5, 0.5])]), seeds,
        "vec_id", "embedding", iters=1)) == 1
