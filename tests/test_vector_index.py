"""Persisted IVF index: parity with the inline operator, partition
pruning on the probed lists, probe-many reuse."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from db_cdc_poc_spark.operators.similarity import ivf_topk
from db_cdc_poc_spark.operators.vector_index import IvfIndex
from db_cdc_poc_spark.sources.testdata import load_table

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    emb = load_table(spark, SF_DIR, "embeddings")
    idx = IvfIndex.build(
        emb,
        centroids=emb.filter(F.col("vec_id") % 16 == 0),
        path=str(tmp_path_factory.mktemp("ivfidx_")) + "/index",
    )
    return idx, emb


def test_probe_matches_inline_ivf(spark, built):
    idx, emb = built
    queries = emb.filter(F.col("vec_id") < 10)
    via_index = sorted(
        map(tuple, idx.probe(spark, queries, k=5, nprobe=4).collect())
    )
    inline = sorted(
        map(
            tuple,
            ivf_topk(
                queries,
                emb,
                centroids=emb.filter(F.col("vec_id") % 16 == 0),
                k=5,
                nprobe=4,
            ).collect(),
        )
    )
    assert via_index == inline and via_index


def test_probe_scan_is_partition_pruned(spark, built):
    idx, emb = built
    queries = emb.filter(F.col("vec_id") < 3)
    df = idx.probe(spark, queries, k=3, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    part_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any(
        "list_id" in ln and "IN" in ln.upper() for ln in part_lines
    ), "probe must prune unprobed list partitions at the scan"


def test_probe_many_is_stable(spark, built):
    idx, emb = built
    queries = emb.filter(F.col("vec_id").isin(4, 7))
    a = sorted(map(tuple, idx.probe(spark, queries, k=4, nprobe=3).collect()))
    b = sorted(map(tuple, idx.probe(spark, queries, k=4, nprobe=3).collect()))
    assert a == b and a


def test_append_matches_full_rebuild(spark, tmp_path_factory):
    """Incremental append == rebuilding from the union corpus, as long
    as the codebook is the same (assignments are per-vector and the
    stored codebook is reused)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 != 0)
    cents = emb.filter(F.col("vec_id") % 16 == 0)

    inc = IvfIndex.build(
        first, centroids=cents, path=str(tmp_path_factory.mktemp("ivfa_")) + "/i"
    )
    inc.append(rest)
    full = IvfIndex.build(
        emb, centroids=cents, path=str(tmp_path_factory.mktemp("ivfb_")) + "/i"
    )
    queries = emb.filter(F.col("vec_id") < 6)
    a = sorted(map(tuple, inc.probe(spark, queries, k=5, nprobe=4).collect()))
    b = sorted(map(tuple, full.probe(spark, queries, k=5, nprobe=4).collect()))
    assert a == b and a


def test_drift_report_healthy_after_build_and_append(spark, tmp_path_factory):
    """Right after build+append against one codebook: zero misassigned
    members everywhere, occupancy sums to ~1e6, every list's avg
    member-to-centroid cosine is sane (> 0 for argmax assignment)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = emb.filter(F.col("vec_id") % 16 == 0)
    idx = IvfIndex.build(
        emb.filter(F.col("vec_id") % 2 == 0), centroids=cents,
        path=str(tmp_path_factory.mktemp("ivfd_")) + "/i",
    )
    idx.append(emb.filter(F.col("vec_id") % 2 != 0))
    rep = idx.drift_report(spark).collect()
    assert rep
    assert all(r.n_misassigned == 0 for r in rep)
    assert sum(r.n_vectors for r in rep) == emb.count()
    total_ppm = sum(r.occupancy_ppm for r in rep)
    assert 1_000_000 - len(rep) <= total_ppm <= 1_000_000  # div truncation
    assert all(r.avg_cos_ppm > 0 for r in rep)


def test_drift_report_flags_codebook_change(spark, tmp_path_factory):
    """Re-training the codebook under existing lists (the drift the
    report exists to catch) must surface as misassigned members."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path_factory.mktemp("ivft_")) + "/i"
    idx = IvfIndex.build(
        emb, centroids=emb.filter(F.col("vec_id") % 16 == 0), path=path
    )
    # overwrite the codebook with a DIFFERENT centroid sample, keeping
    # the old cid values so every list still has a centroid row
    from db_cdc_poc_spark.operators.similarity import norm

    new_cents = (
        emb.filter((F.col("vec_id") - 1) % 16 == 0)
        .select(
            (F.col("vec_id") - 1).alias("cid"),
            F.col("embedding").alias("ce"),
            norm("embedding").alias("cen"),
        )
    )
    new_cents.write.mode("overwrite").parquet(f"{path}/centroids")
    rep = idx.drift_report(spark).collect()
    assert sum(r.n_misassigned for r in rep) > 0


def test_assignment_stats_matches_drift_report_on_fresh_index(spark, tmp_path_factory):
    """The inline relational form (the q147 oracle surface) and the
    persisted-index report agree on occupancy and distortion for a
    fresh build (where misassignment is structurally zero)."""
    from db_cdc_poc_spark.operators.vector_index import ivf_assignment_stats

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = emb.filter(F.col("vec_id") % 16 == 0)
    idx = IvfIndex.build(
        emb, centroids=cents, path=str(tmp_path_factory.mktemp("ivfe_")) + "/i"
    )
    inline = {
        r.list_id: (r.n_vectors, r.occupancy_ppm, r.avg_cos_ppm)
        for r in ivf_assignment_stats(emb, cents).collect()
    }
    stored = {
        r.list_id: (r.n_vectors, r.occupancy_ppm, r.avg_cos_ppm)
        for r in idx.drift_report(spark).collect()
    }
    assert inline == stored


def test_drift_report_orphaned_list_is_deterministic_null(spark, tmp_path_factory):
    """A list_id absent from the stored codebook (external re-train
    that DROPPED a centroid — exactly the case the report exists to
    catch) must yield NULL own_cos-derived distortion, not an
    arbitrary centroid's cosine (r7 ADVICE: max_by on a 0/1 flag ties
    at 0 for every centroid and picks nondeterministically)."""
    from db_cdc_poc_spark.operators.similarity import norm

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = emb.filter(F.col("vec_id") % 16 == 0)
    path = str(tmp_path_factory.mktemp("ivforph_")) + "/index"
    idx = IvfIndex.build(emb, centroids=cents, path=path)
    # drop one centroid from the stored codebook: its list is orphaned
    # (materialize rows FIRST — overwriting a path a lazy plan still
    # reads from races the scan against the delete)
    rows = spark.read.parquet(f"{path}/centroids").collect()
    dropped_cid = min(r.cid for r in rows)
    spark.createDataFrame(
        [r for r in rows if r.cid != dropped_cid],
        spark.read.parquet(f"{path}/centroids").schema,
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    reports = [
        {r.list_id: (r.avg_cos_ppm, r.n_misassigned)
         for r in idx.drift_report(spark).collect()}
        for _ in range(3)
    ]
    assert reports[0] == reports[1] == reports[2]  # deterministic
    orphan = reports[0][dropped_cid]
    assert orphan[0] is None  # no own centroid -> NULL distortion
    assert orphan[1] > 0  # every member now misassigned


def test_recluster_closes_the_drift_loop(spark, tmp_path_factory):
    """The round-9 loop-closer (mirror of round 8's compaction loop):
    drift detect -> partial re-cluster -> re-assign -> recall
    re-measure. Scenario: an external codebook re-train RELABELED two
    centroids (swapped ids — the "codebook changed under the lists"
    case drift_report's n_misassigned exists to catch): probes now
    route queries to the right centroid but the WRONG stored list, so
    nprobe=1 recall for both clusters collapses to zero while the
    data itself is untouched. recluster() auto-detects the two broken
    lists, re-trains their centroids on their own members, moves every
    member to its argmax list, and recall returns to 1.0."""
    import numpy as np

    from db_cdc_poc_spark.operators.similarity import cosine_topk, norm

    rng = np.random.RandomState(31)
    d = 8
    e = np.eye(d)

    def blob(center, n, start_id, noise):
        pts = center[None, :] + rng.randn(n, d) * noise
        return [(start_id + i, [float(x) for x in pts[i]]) for i in range(n)]

    rows = (
        blob(2.0 * e[0], 15, 0, 0.15)      # A: list 0's home
        + blob(2.0 * e[1], 15, 100, 0.15)  # B: list 1's home
        + blob(2.0 * e[2], 40, 200, 0.15)  # C: list 2's home
    )
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [float(x) for x in 2.0 * e[0]]),
         (1, [float(x) for x in 2.0 * e[1]]),
         (2, [float(x) for x in 2.0 * e[2]])],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path_factory.mktemp("ivfrecl_")) + "/index"
    idx = IvfIndex.build(corpus, centroids=cents, path=path)

    # recall re-measure leg: B and C members as queries, exact top-5
    # as truth (both paths exclude self-matches)
    queries = corpus.filter(F.col("vec_id") >= 100)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(queries, corpus, k=5).collect()
    }

    def recall():
        got = {
            (r.query_id, r.neighbor_id)
            for r in idx.probe(spark, queries, k=5, nprobe=1).collect()
        }
        return len(got & truth) / len(truth)

    assert recall() == 1.0  # healthy index finds everything

    # the external re-train: centroid ids 1 and 2 come back SWAPPED
    # (same vectors, exchanged labels) — probes route by the new
    # codebook, members still sit in the old lists
    swapped = spark.createDataFrame(
        [(0, [float(x) for x in 2.0 * e[0]]),
         (1, [float(x) for x in 2.0 * e[2]]),
         (2, [float(x) for x in 2.0 * e[1]])],
        "cid long, ce array<double>",
    ).withColumn("cen", norm("ce"))
    swapped.write.mode("overwrite").parquet(f"{path}/centroids")
    spark.catalog.refreshByPath(f"{path}/centroids")

    rep = {r.list_id: r for r in idx.drift_report(spark).collect()}
    assert rep[0].n_misassigned == 0
    assert rep[1].n_misassigned == 15 and rep[2].n_misassigned == 40
    assert recall() == 0.0  # every probe scans the wrong list

    lists_of = lambda: {
        int(r.neighbor_id): int(r.list_id)
        for r in spark.read.parquet(f"{path}/lists").collect()
    }
    before = lists_of()

    # the repair: auto-selection (n_misassigned > 0) finds lists 1, 2
    res = idx.recluster(spark, iters=2)
    assert res == {"lists_selected": 2, "members": 55, "moved": 55}

    after = lists_of()
    # loop invariants: same member SET, untouched list 0 untouched
    assert set(after) == set(before)
    assert all(after[i] == 0 for i in range(0, 15))
    # every member moved to its argmax list: B -> list 2, C -> list 1
    assert all(after[i] == 2 for i in range(100, 115))
    assert all(after[i] == 1 for i in range(200, 240))
    assert recall() == 1.0  # recall re-measured: fully recovered
    rep2 = idx.drift_report(spark).collect()
    assert all(r.n_misassigned == 0 for r in rep2)
    # converged: a second pass is a no-op
    assert idx.recluster(spark, iters=2) == {
        "lists_selected": 0, "members": 0, "moved": 0}


def test_recluster_occupancy_selection_reduces_distortion(spark, tmp_path_factory):
    """The occupancy signal: an append batch that bloats ONE list is
    selected by the occupancy_ppm threshold and its centroid re-trains
    toward the shifted mass — quantization distortion (avg_cos_ppm)
    improves even when no member needs to MOVE."""
    import numpy as np

    rng = np.random.RandomState(7)
    d = 8
    e = np.eye(d)

    def blob(center, n, start_id, noise):
        pts = center[None, :] + rng.randn(n, d) * noise
        return [(start_id + i, [float(x) for x in pts[i]]) for i in range(n)]

    base = spark.createDataFrame(
        blob(2.0 * e[0], 15, 0, 0.15) + blob(2.0 * e[1], 15, 100, 0.15),
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [float(x) for x in 2.0 * e[0]]),
         (1, [float(x) for x in 2.0 * e[1]])],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path_factory.mktemp("ivfocc_")) + "/index"
    idx = IvfIndex.build(base, centroids=cents, path=path)

    # drifted appends: 40 vectors near e1 but tilted toward e2 — all
    # land in list 1 (nothing near list 0), tripling its size
    drift = spark.createDataFrame(
        blob(0.9 * e[1] + 1.1 * e[2], 40, 200, 0.2),
        "vec_id long, embedding array<double>",
    )
    idx.append(drift)

    rep = {r.list_id: r for r in idx.drift_report(spark).collect()}
    # (the rng-tail straggler that lands in list 0 is fine — the
    # signal is list 1's bloat, not an exact count)
    assert rep[1].n_vectors >= 50 and rep[1].occupancy_ppm > 700_000
    assert all(r.n_misassigned == 0 for r in rep.values())
    dist_before = rep[1].avg_cos_ppm

    # no misassignment anywhere -> threshold is what selects list 1
    res = idx.recluster(spark, occupancy_ppm=600_000, iters=2)
    assert res["lists_selected"] == 1
    assert res["members"] == rep[1].n_vectors
    rep2 = {r.list_id: r for r in idx.drift_report(spark).collect()}
    assert rep2[1].avg_cos_ppm > dist_before  # distortion shrank
    assert sum(r.n_vectors for r in rep2.values()) == 70
    # re-training list 1's centroid can flip the argmax of a straggler
    # sitting in an UNSELECTED list (the documented partial-pass
    # effect) — one pure re-route pass (iters=0) converges the loop
    if any(r.n_misassigned > 0 for r in rep2.values()):
        idx.recluster(spark, iters=0)
    rep3 = idx.drift_report(spark).collect()
    assert all(r.n_misassigned == 0 for r in rep3)
    assert sum(r.n_vectors for r in rep3) == 70


def test_recluster_auto_selects_misassigned_and_noops_when_healthy(
    spark, tmp_path_factory
):
    """Auto-selection: a healthy index is a no-op; after an external
    codebook change (the n_misassigned > 0 signal drift_report exists
    for), recluster() with no arguments finds and repairs it."""
    emb = load_table(spark, SF_DIR, "embeddings").limit(64)
    cents = emb.filter(F.col("vec_id") % 16 == 0)
    path = str(tmp_path_factory.mktemp("ivfauto_")) + "/index"
    idx = IvfIndex.build(emb, centroids=cents, path=path)
    assert idx.recluster(spark) == {
        "lists_selected": 0, "members": 0, "moved": 0}

    # external re-train: shift every centroid toward one member's
    # vector — some members' argmax flips -> misassigned
    rows = spark.read.parquet(f"{path}/centroids").collect()
    vec = [r for r in spark.read.parquet(f"{path}/lists").collect()][0].cv
    shifted = [
        (r.cid, [0.5 * a + 0.5 * b for a, b in zip(r.ce, vec)])
        for r in rows
    ]
    from db_cdc_poc_spark.operators.similarity import norm as _norm

    spark.createDataFrame(
        shifted, "cid long, ce array<double>"
    ).withColumn("cen", _norm("ce")).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )
    spark.catalog.refreshByPath(f"{path}/centroids")
    n_flagged = idx.drift_report(spark).filter(
        F.col("n_misassigned") > 0
    ).count()
    assert n_flagged > 0
    # iters=0 is the right repair for an EXTERNALLY-changed codebook:
    # pure re-routing (no centroid motion), so no new misassignment
    # can appear in unselected lists and one pass converges — whereas
    # iters>0 re-training moves the selected centroids and can flip a
    # healthy neighbor's members (that mode is for distortion repair,
    # see the occupancy test)
    res = idx.recluster(spark, iters=0)
    assert res["lists_selected"] >= n_flagged
    # repaired: every member lives in its argmax list again
    assert idx.drift_report(spark).filter(
        F.col("n_misassigned") > 0
    ).count() == 0


# -- the shared argmax-cosine codebook assignment ----------------------------


def _fold_assignment(corpus, codebook):
    """Reference: the expression-fold assignment every IVF, residual,
    Lloyd and SemDeDup site used before the shared kernel — broadcast
    cross join, ``paired_cosine`` per (vector, centroid) pair, and a
    per-vector ``max_by`` keyed on (cos, -cid): ties to the smaller
    id. Returns {vec_id: (list_id, best_cos)}."""
    from db_cdc_poc_spark.operators.similarity import norm, paired_cosine

    cent = codebook.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        norm("embedding").alias("cen"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        norm("embedding").alias("cn"),
    )
    ref = (
        c.crossJoin(F.broadcast(cent))
        .withColumn("cos_c", paired_cosine("cv", "ce", "cn", "cen"))
        .groupBy("neighbor_id")
        .agg(
            F.max_by(
                "cid", F.struct(F.col("cos_c"), (-F.col("cid")).alias("nc"))
            ).alias("list_id"),
            F.max("cos_c").alias("best_cos"),
        )
    )
    return {r.neighbor_id: (r.list_id, r.best_cos) for r in ref.collect()}


def test_argmax_cosine_kernel_matches_fold_per_vector(spark):
    """Per-vector parity of ``assign_argmax_cosine`` with the fold it
    replaced: the same ``list_id`` and the same ``best_cos`` BITS for
    every vector. Planted edge cases: an exact tie (a copy of centroid
    8 under the SMALLER id -5, so every member of 8 must route to -5),
    a zero centroid (cosine 0.0 against everything) and a zero vector
    (cosine 0.0 against every centroid: the smallest id, -10, wins)."""
    import struct

    from db_cdc_poc_spark.operators.similarity import assign_argmax_cosine

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    dim = len(emb.first().embedding)
    schema = emb.schema
    corpus = emb.unionByName(
        spark.createDataFrame([(-1, [0.0] * dim)], schema)
    )
    c8 = emb.filter(F.col("vec_id") == 8).first().embedding
    codebook = emb.filter(F.col("vec_id") % 8 == 0).unionByName(
        spark.createDataFrame([(-5, c8), (-10, [0.0] * dim)], schema)
    )

    ref = _fold_assignment(corpus, codebook)
    got_rows = assign_argmax_cosine(corpus, "embedding", codebook).collect()
    got = {r.vec_id: (r.list_id, r.best_cos) for r in got_rows}

    # one output row per input row, input columns passed through
    assert len(got_rows) == len(got) == corpus.count()
    src = {r.vec_id: r.embedding for r in corpus.collect()}
    assert all(r.embedding == src[r.vec_id] for r in got_rows)

    bits = lambda x: struct.pack("<d", x)  # noqa: E731
    assert set(got) == set(ref)
    for vid, (lid, cos) in ref.items():
        assert got[vid][0] == lid, vid
        assert bits(got[vid][1]) == bits(cos), vid
    # the planted cases took the branches they were planted for
    assert got[-1] == (-10, 0.0)
    assert got[8][0] == -5
    assert all(lid != 8 for lid, _ in got.values())


def test_argmax_cosine_kernel_rejects_empty_codebook(spark):
    from db_cdc_poc_spark.operators.similarity import assign_argmax_cosine

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    with pytest.raises(ValueError, match="empty codebook"):
        assign_argmax_cosine(emb, "embedding", emb.limit(0))


def test_ivf_numpy_assignment_bit_exact(spark):
    """The mapInPandas assignment (sequential-order numpy accumulation)
    must reproduce the aggregate/zip_with fold's cosines BIT-exactly —
    same products, same summation order, correctly-rounded sqrt/div —
    including the ties-to-min-cid argmax rule."""
    from db_cdc_poc_spark.operators.similarity import norm, paired_cosine
    from db_cdc_poc_spark.operators.vector_index import ivf_assignment_stats

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = emb.filter(F.col("vec_id") % 8 == 0)

    # reference: the expression-fold path the operator used before
    cent = cents.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        norm("embedding").alias("cen"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        norm("embedding").alias("cn"),
    )
    ref = (
        c.crossJoin(F.broadcast(cent))
        .withColumn("cos_c", paired_cosine("cv", "ce", "cn", "cen"))
        .groupBy("neighbor_id")
        .agg(
            F.max_by(
                "cid", F.struct(F.col("cos_c"), (-F.col("cid")).alias("nc"))
            ).alias("list_id"),
            F.max("cos_c").alias("best_cos"),
        )
    )
    ref_per_list = {
        r.list_id: (r.n, r.cs)
        for r in ref.groupBy("list_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round((F.col("best_cos") + 1) * 1_000_000, 0).cast("long")
            ).alias("cs"),
        )
        .collect()
    }
    got = {
        r.list_id: (r.n_vectors, r.avg_cos_ppm)
        for r in ivf_assignment_stats(emb, cents).collect()
    }
    assert set(got) == set(ref_per_list)
    for lid, (n, cs) in ref_per_list.items():
        gn, gavg = got[lid]
        assert gn == n
        # avg_cos_ppm = cos_sum div n - 1e6, replayed from the exact sums
        assert gavg == cs // n - 1_000_000, lid
    assert sum(n for n, _ in got.values()) == emb.count()


def test_assignment_stats_rejects_duplicate_ids(spark):
    """Corpus ids must be unique (the report counts each ROW): a
    duplicated id raises instead of silently double-counting."""
    from db_cdc_poc_spark.operators.vector_index import ivf_assignment_stats

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = emb.filter(F.col("vec_id") % 16 == 0)
    dup = emb.unionByName(emb.filter(F.col("vec_id") == 3))
    with pytest.raises(ValueError, match="duplicate vec_id"):
        ivf_assignment_stats(dup, cents)
