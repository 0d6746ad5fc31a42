"""Reliable-checkpoint option for the iterative/lineage-cut paths
(VERDICT r5 next-round #1).

`localCheckpoint` truncates lineage into EXECUTOR-LOCAL blocks — fine
single-node, fatal on a cluster where one lost executor then has no
recompute path. Every iterative operator now takes `checkpoint_dir`;
when set, each materialization is write-then-read parquet under that
durable directory instead. These tests assert (a) results are
IDENTICAL either way, (b) the reliable path really does write step
files to the directory, (c) the streaming index's list-sink adapter
now routes through the size-guarded exchange.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from db_cdc_poc_spark.checkpointing import materialize
from db_cdc_poc_spark.operators.dedup import (
    dedup_fuzzy,
    neardup_clusters,
    ngram_jaccard_pairs,
)
from db_cdc_poc_spark.operators.graph import pagerank
from db_cdc_poc_spark.sources.exchange import DriverExchangeTooLarge
from db_cdc_poc_spark.streaming.dedup_index import StreamingDedupIndex


def test_materialize_reliable_roundtrip(spark, tmp_path):
    ckdir = str(tmp_path / "ck")
    df = spark.range(0, 100).selectExpr("id", "id * 2 AS v")
    out = materialize(df, ckdir, label="t")
    assert sorted((r.id, r.v) for r in out.collect()) == [
        (i, 2 * i) for i in range(100)
    ]
    steps = os.listdir(ckdir)
    assert len(steps) == 1 and steps[0].startswith("t-")
    # the re-read plan is a plain parquet scan — lineage is cut and the
    # recompute path is the durable file, not the upstream plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "parquet" in plan.lower()
    assert "Range" not in plan


def test_materialize_default_is_local(spark):
    df = spark.range(0, 10)
    out = materialize(df, None)
    assert out.count() == 10


def _pair_df(spark):
    # two components {1,2,3} and {10,11}, plus chain via (3,1)
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11)], "id_a long, id_b long"
    )


def test_neardup_clusters_reliable_matches_local(spark, tmp_path):
    pairs = _pair_df(spark)
    # max_driver_edges=0 forces the DISTRIBUTED pointer-jumping loop —
    # the path whose per-iterate checkpoints are the cluster-scale risk
    local = sorted(
        (r.id, r.cluster_id)
        for r in neardup_clusters(pairs, max_driver_edges=0).collect()
    )
    reliable = sorted(
        (r.id, r.cluster_id)
        for r in neardup_clusters(
            pairs, max_driver_edges=0, checkpoint_dir=str(tmp_path / "cc")
        ).collect()
    )
    assert reliable == local
    assert local == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]
    # pairs + edges + initial labels + >=1 iterate all wrote steps
    assert len(os.listdir(tmp_path / "cc")) >= 4


def test_dedup_fuzzy_reliable_matches_local(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 10, 11, 99)], "doc_id long, text string"
    )
    pairs = _pair_df(spark)
    base = sorted(r.doc_id for r in dedup_fuzzy(docs, pairs).collect())
    reliable = sorted(
        r.doc_id
        for r in dedup_fuzzy(
            docs, pairs, checkpoint_dir=str(tmp_path / "df")
        ).collect()
    )
    assert reliable == base == [1, 10, 99]


def test_pair_core_reliable_matches_local(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    base = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    )
    for mode in ("naive", "prefix"):
        got = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in ngram_jaccard_pairs(
                docs, threshold=0.3, mode=mode,
                checkpoint_dir=str(tmp_path / f"pc-{mode}"),
            ).collect()
        )
        assert got == base, mode
        assert os.listdir(tmp_path / f"pc-{mode}")


def test_pagerank_reliable_matches_local(spark, tmp_path):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], "src long, dst long"
    )
    base = sorted((r.node, r.rank) for r in pagerank(edges, iterations=3).collect())
    got = sorted(
        (r.node, r.rank)
        for r in pagerank(
            edges, iterations=3, checkpoint_dir=str(tmp_path / "pr")
        ).collect()
    )
    assert got == base
    assert len(os.listdir(tmp_path / "pr")) >= 3


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_streaming_index_reliable_matches_local(spark, tmp_path):
    texts = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
        (3, "one two three four five six seven eight nine ten"),
    ]
    decisions = {}
    for variant, ck in (("local", None), ("reliable", str(tmp_path / "ix-ck"))):
        idx = StreamingDedupIndex(
            str(tmp_path / f"ix-{variant}"), num_hashes=16, bands=4,
            checkpoint_dir=ck,
        )
        out = []
        for batch in (texts[:2], texts[2:]):
            out.extend(
                (r.id, r.is_novel)
                for r in idx.process_batch(_docs(spark, batch)).collect()
            )
        decisions[variant] = sorted(out)
    assert decisions["reliable"] == decisions["local"]
    assert decisions["local"] == [(1, True), (2, False), (3, True)]
    assert os.listdir(tmp_path / "ix-ck")


def test_foreach_batch_sink_is_size_guarded(spark, tmp_path):
    idx = StreamingDedupIndex(str(tmp_path / "ix-g"), num_hashes=16, bands=4)
    sink: list = []
    fn = idx.foreach_batch(sink, max_rows=1)
    with pytest.raises(DriverExchangeTooLarge):
        fn(_docs(spark, [(1, "a b c d e"), (2, "f g h i j")]), 0)
    assert sink == []


def test_semdedup_reliable_matches_local(spark, tmp_path):
    from db_cdc_poc_spark.operators.similarity import semdedup

    rows = [
        (1, [1.0, 0.1, 0.0], 0),
        (2, [1.0, 0.3, 0.0], 0),  # near-dup pair in cluster 0
        (3, [0.0, 0.0, 1.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    local = sorted(r.vec_id for r in semdedup(df, threshold=0.95).collect())
    reliable = sorted(
        r.vec_id
        for r in semdedup(
            df, threshold=0.95, checkpoint_dir=str(tmp_path / "sd")
        ).collect()
    )
    assert reliable == local and len(local) == 2
    # the assignment materialized as a durable parquet step
    assert os.listdir(tmp_path / "sd")


# -- bench.py checkpoint GC ----------------------------------------------------


def test_bench_ckpt_gc_removes_only_new_entries(tmp_path):
    import bench

    d = tmp_path / "ckpt"
    d.mkdir()
    (d / "pre-existing").mkdir()
    (d / "pre-existing" / "keep.txt").write_text("x")
    keep = bench._ckpt_entries(d)
    (d / "step-abc-000001").mkdir()
    (d / "step-abc-000001" / "part-0.parquet").write_bytes(b"y" * 1000)
    freed = bench._ckpt_gc(d, keep)
    assert freed == 1000
    assert (d / "pre-existing" / "keep.txt").exists()
    assert not (d / "step-abc-000001").exists()
    # no dir configured -> no-op
    assert bench._ckpt_gc(None, set()) == 0
