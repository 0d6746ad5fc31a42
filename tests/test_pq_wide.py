"""Wide (multi-word) PQ codes — VERDICT r12 ask #3: the round-9/12
curves proved recall at fixed bits decays with corpus size and the
single-BIGINT pack caps m*bits at 63 (k=128/m=8 is already 56 of 63
bits). The wide layout packs codes into array<bigint> words (63 usable
bits per word, codes never straddle words) so m*bits scales with the
corpus: m=16/k=128 = 112 bits = 2 words.

Exactness strategy: (a) where BOTH layouts are legal (m=8, k=16) the
wide path must reproduce the single-word path bit-for-bit through the
full ADC pipeline — pack+unpack are proven inverse; (b) the true
multi-word config (m=16, k=128) is value-checked against the DuckDB
oracle via q173/q174 in the registry (same sequential-fold replay
contract as q161/q162); (c) the stored index round-trips the layout
through pq_meta and parquet schema."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from db_cdc_poc_spark.operators.vector_index import (
    IvfIndex,
    _pq_words_layout,
    _validate_pq_params,
    pq_adc_topk,
    pq_codes,
)
from db_cdc_poc_spark.queries import _pq_trained
from db_cdc_poc_spark.sources.testdata import load_table

from .conftest import SF_DIR


def _emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def _narrow_cb(emb):
    # the q161 codebook: 16 codewords -> bits=4, m=8 fits one word
    return emb.filter((F.col("vec_id") % 16 == 0) & (F.col("vec_id") < 256))


def _wide_cb(emb):
    # 128 codewords -> bits=7; with m=16 that's 112 bits = 2 words
    return emb.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 256))


def test_validate_rejects_narrow_overflow_allows_wide():
    with pytest.raises(ValueError, match="> 63"):
        _validate_pq_params(64, 16, 128, wide=False)
    assert _validate_pq_params(64, 16, 128, wide=True) == 7
    assert _pq_words_layout(16, 7) == (9, 2)  # 9 codes/word, 2 words
    assert _pq_words_layout(8, 4) == (15, 1)


def test_wide_pack_of_narrow_config_is_same_word(spark):
    """m=8/k=16 fits one word, so forcing wide must yield a 1-element
    array whose word EQUALS the single-word pq_code — the layouts share
    the little-endian bit layout by construction."""
    emb = _emb(spark)
    cb = _narrow_cb(emb)
    narrow = {
        int(r.vec_id): (int(r.pq_code), int(r.err_micro))
        for r in pq_codes(emb, cb, m=8, wide=False).collect()
    }
    wide = pq_codes(emb, cb, m=8, wide=True)
    assert dict(wide.dtypes)["pq_code"] == "array<bigint>"
    got = {
        int(r.vec_id): (list(r.pq_code), int(r.err_micro))
        for r in wide.collect()
    }
    assert len(got) == len(narrow) > 0
    for vid, (code, err) in narrow.items():
        assert got[vid] == ([code], err)


def test_wide_adc_equals_narrow_adc_full_path(spark):
    """ADC top-k off wide codes == off narrow codes, row for row —
    proves the unpack expression inverts the pack through the whole
    scoring pipeline (LUT, grouping, ranking)."""
    emb = _emb(spark)
    cb = _narrow_cb(emb)
    qv = emb.filter(F.col("vec_id") < 8)
    a = sorted(
        map(
            tuple,
            pq_adc_topk(
                pq_codes(emb, cb, m=8, wide=False), qv, cb, m=8, k_top=5
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            pq_adc_topk(
                pq_codes(emb, cb, m=8, wide=True), qv, cb, m=8, k_top=5
            ).collect(),
        )
    )
    assert a == b and a


def test_wide_auto_selection_and_shape(spark):
    """m=16/k=128 auto-selects the wide layout: 2-word arrays, every
    unpacked code id in [0, 128), err_micro non-negative."""
    emb = _emb(spark)
    cb = _wide_cb(emb)
    codes = pq_codes(emb, cb, m=16)  # wide=None -> auto
    assert dict(codes.dtypes)["pq_code"] == "array<bigint>"
    from functools import reduce

    code_bad = reduce(
        lambda a, b: a | b,
        [
            (F.col(f"c{s}") < 0) | (F.col(f"c{s}") > 127)
            for s in range(16)
        ],
    )
    bad = codes.select(
        F.size("pq_code").alias("nw"),
        F.col("err_micro"),
        *[
            F.expr(
                f"shiftrightunsigned(element_at(pq_code, "
                f"CAST(({s} div 9) AS INT) + 1), ({s} % 9) * 7) & 127"
            ).alias(f"c{s}")
            for s in range(16)
        ],
    ).filter((F.col("nw") != 2) | (F.col("err_micro") < 0) | code_bad)
    assert bad.count() == 0
    assert codes.count() == emb.count()
    # words never use bit 63: every word non-negative
    assert (
        codes.filter(
            F.exists("pq_code", lambda w: w < 0)
        ).count()
        == 0
    )


def test_wide_adc_topk_runs_and_ranks(spark):
    """112-bit wide ADC end-to-end: dense ranks 1..k per query, no
    self-match asymmetries, distances non-negative."""
    emb = _emb(spark)
    cb = _wide_cb(emb)
    codes = pq_codes(emb, cb, m=16)
    got = pq_adc_topk(codes, emb.filter(F.col("vec_id") < 5), cb, m=16, k_top=5)
    rows = got.collect()
    assert len(rows) == 25
    per_q = {}
    for r in rows:
        assert r.adc_micro >= 0
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


@pytest.fixture(scope="module")
def wide_stored(spark, tmp_path_factory):
    emb = load_table(spark, SF_DIR, "embeddings")
    coarse, _ = _pq_trained(spark, SF_DIR)
    idx = IvfIndex.build(
        emb,
        centroids=coarse.select(F.col("list_id").alias("vec_id"), "embedding"),
        path=str(tmp_path_factory.mktemp("ivfpq_wide_")) + "/index",
    )
    idx.build_pq(spark, _wide_cb(emb), m=16)  # auto-wide, 112-bit
    return idx, emb, coarse


def test_stored_wide_layout_pinned_and_pruned(spark, wide_stored):
    """pq_meta pins wide=True; the stored parquet column is the array
    layout; the ADC probe stays partition-pruned."""
    idx, emb, _ = wide_stored
    assert idx._pq_meta()["wide"] is True
    stored = spark.read.parquet(f"{idx.path}/pq_codes")
    assert dict(stored.dtypes)["pq_code"] == "array<bigint>"
    df = idx.probe_adc(spark, emb.filter(F.col("vec_id") < 3), k_top=3, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert any(
        "PartitionFilters" in ln and "list_id" in ln and "IN" in ln.upper()
        for ln in plan.splitlines()
    ), "wide ADC probe must prune unprobed code partitions"


def test_stored_wide_probe_matches_inline(spark, wide_stored):
    """Stored wide serving == the inline wide residual composition,
    pair for pair (the same parity contract as the narrow r12 test)."""
    idx, emb, coarse = wide_stored
    qv = emb.filter(F.col("vec_id") < 6)
    got = sorted(
        map(tuple, idx.probe_adc(spark, qv, k_top=5, nprobe=4).collect())
    )
    cb = _wide_cb(emb)
    coarse_df = coarse.select("list_id", "embedding")
    codes = pq_codes(emb, cb, m=16, coarse_centroids=coarse_df)
    from db_cdc_poc_spark.operators.similarity import norm, paired_cosine
    from pyspark.sql import Window

    cent = coarse_df.select(
        "list_id", F.col("embedding").alias("ce"), norm("embedding").alias("cen")
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("cos_c").desc(), F.col("list_id").asc()
    )
    probes = (
        qv.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            norm("embedding").alias("qn"),
        )
        .crossJoin(F.broadcast(cent))
        .withColumn("cos_c", paired_cosine("qe", "ce", "qn", "cen"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= 4)
        .select("query_id", "list_id")
    )
    cand = probes.join(
        codes.select(F.col("vec_id").alias("neighbor_id"), "list_id"),
        "list_id",
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    want = sorted(
        map(
            tuple,
            pq_adc_topk(
                codes, qv, cb, m=16, k_top=5,
                candidates=cand, coarse_centroids=coarse_df,
            ).collect(),
        )
    )
    assert got == want and got


def test_stored_wide_append_equals_rebuild(spark, tmp_path_factory):
    emb = load_table(spark, SF_DIR, "embeddings")
    coarse, _ = _pq_trained(spark, SF_DIR)
    cents = coarse.select(F.col("list_id").alias("vec_id"), "embedding")
    cb = _wide_cb(emb)
    inc = IvfIndex.build(
        emb.filter(F.col("vec_id") % 2 == 0), centroids=cents,
        path=str(tmp_path_factory.mktemp("ivfpqwa_")) + "/i",
    )
    inc.build_pq(spark, cb, m=16)
    inc.append(emb.filter(F.col("vec_id") % 2 != 0))
    full = IvfIndex.build(
        emb, centroids=cents, path=str(tmp_path_factory.mktemp("ivfpqwb_")) + "/i"
    )
    full.build_pq(spark, cb, m=16)

    def codes_of(ix):
        return sorted(
            (int(r.vec_id), int(r.list_id), tuple(r.pq_code), int(r.err_micro))
            for r in spark.read.parquet(f"{ix.path}/pq_codes")
            .select("vec_id", "list_id", "pq_code", "err_micro").collect()
        )

    assert codes_of(inc) == codes_of(full) and codes_of(inc)
