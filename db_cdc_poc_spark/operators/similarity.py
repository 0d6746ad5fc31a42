"""Embedding similarity search — exact cosine top-k and LSH-bucketed ANN.

The reference has no vector operators; this is the training-data-pipeline
extension (SURVEY.md §7 step 5) over the driver's ``embeddings`` fixture
(vec_id bigint, embedding array<float>, label int).

Per-pair scoring is Column expressions — ``zip_with`` + ``aggregate``
dot products stay inside JVM codegen, with no per-row Python and no
driver loops. The Arrow-batched numpy paths (one Python call per batch)
are the codebook assignment ``assign_argmax_cosine``, bit-identical to
that fold and shared by every IVF, residual, Lloyd and SemDeDup site,
and the float64-matmul variants (``cosine_topk_np``,
``neardup_pairs_np``). The exact path is the correctness baseline
(O(|Q|·|C|), broadcast the query side); the hyperplane-bucketed path is
the 100 TB candidate generator (shuffle by bucket, never a cross join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from db_cdc_poc_spark.checkpointing import materialize


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two equal-length array<numeric> columns (double).

    Sequential fold over the zipped array — deterministic summation order,
    so results are bit-stable across engines given the same element order.
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(vec: Column | str) -> Column:
    """L2 norm of an array<numeric> column."""
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def normalized(vec: Column | str) -> Column:
    """L2-normalized copy of an array<numeric> column (array<double>).

    Zero vectors normalize to zero vectors (not NaN) so downstream cosine
    against them is 0, never null-poisoned.

    NOTE: keep this out of join hot paths — if the projection is inlined
    into a per-pair expression (Catalyst collapses projects; non-equi
    joins have no exchange to materialize the streamed side), the norm
    sub-expression re-evaluates per element. Prefer ``cosine(a, b)`` on
    raw vectors, which computes each norm once per evaluation.
    """
    v = F.col(vec) if isinstance(vec, str) else vec
    n = norm(v)
    return F.when(
        n > 0, F.transform(v, lambda x: x.cast("double") / n)
    ).otherwise(F.transform(v, lambda x: F.lit(0.0)))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two raw (unnormalized) vectors.

    Self-contained but expensive in per-pair position (norms re-evaluate
    per pair, twice each because ``denom`` appears in the condition and
    the division). Join hot paths should use ``paired_cosine`` with
    norms precomputed per ROW below the join — measured 50x faster on a
    250k-pair nested-loop join.
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def paired_cosine(
    va: Column | str, vb: Column | str, na: Column | str, nb: Column | str
) -> Column:
    """Cosine from raw vectors + their PRECOMPUTED norms.

    The norms are per-row projections evaluated once per input row
    (500 evals for a 500-vector table), so the per-pair cost collapses
    to a single dot fold + scalar arithmetic. Float result is identical
    to ``cosine`` — same expressions over the same inputs.
    """
    na = F.col(na) if isinstance(na, str) else na
    nb = F.col(nb) if isinstance(nb, str) else nb
    denom = na * nb
    return F.when(denom > 0, dot(va, vb) / denom).otherwise(F.lit(0.0))


def assign_argmax_cosine(
    df: DataFrame, vec_col: str, codebook: DataFrame
) -> DataFrame:
    """Assign every row of ``df`` to its highest-cosine codebook entry
    — the ONE codebook assignment behind IVF routing, residual
    encoding, cosine Lloyd and SemDeDup clustering.

    ``codebook`` is (id, vector): its first two columns, any others
    ignored. It must be parameter-bounded (nlist rows, ARCHITECTURE
    rule 13): it is collected to the driver, sorted by ascending id and
    shipped with the batch function. An empty codebook raises
    ``ValueError``.

    Output: every input row unchanged plus ``list_id`` (the winning
    codebook id, in the codebook id's type) and ``best_cos`` (its
    cosine) — one output row per input row, no groupBy, no join back.
    Every ``vec_col`` must be a non-null vector of the codebook's
    length (``ValueError`` otherwise); ``df`` must not already carry
    ``list_id``/``best_cos``.

    The cosines are bit-identical to :func:`paired_cosine` over
    :func:`norm`: float32 elements widen to float64 exactly, each
    product is one correctly-rounded double op, and every dot / squared
    norm adds its products in dimension order starting from 0.0, as the
    ``aggregate``/``zip_with`` fold does; a zero norm gives 0.0. The
    argmax takes the FIRST maximum over the ascending ids, so ties go
    to the smallest id — ``max_by`` keyed on ``struct(cos, -id)``.
    Evidence: per-vector parity against that fold in
    tests/test_vector_index.py, and the oracle for every query built
    on it.

    Why numpy over Arrow batches (``mapInArrow``: one Python call per
    batch, the input columns passed back as the same Arrow arrays): the
    interpreted fold costs ~0.3 ms per (vector, centroid) PAIR and
    dominated q147's profile (80 s task time over 2.6 s wall at sf0.1,
    ~70% GC from per-pair ``zip_with`` array churn); the JVM
    unrolled-dot alternative measured slower still (SCALING.md r11
    negative — JIT method-size cliff). One outer-product pass per
    dimension over the whole batch removes both the lambda dispatch
    and the per-pair allocations (q147 GC 57 s -> 1.4 s).
    """
    import numpy as np
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import DoubleType, StructField, StructType

    cid_field, vec_field = codebook.schema.fields[:2]
    crows = sorted(
        codebook.select(cid_field.name, vec_field.name).collect(),
        key=lambda r: r[0],
    )
    if not crows:
        raise ValueError("assign_argmax_cosine: empty codebook")
    cids = np.array([r[0] for r in crows])
    cent = np.array([r[1] for r in crows], dtype=np.float64)
    nlist, dim = cent.shape
    cen_acc = np.zeros(nlist)
    for j in range(dim):
        cen_acc += cent[:, j] * cent[:, j]
    cen = np.sqrt(cen_acc)
    cid_type = to_arrow_type(cid_field.dataType)

    def _assign(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vecs = batch.column(vec_col)
            if vecs.null_count or (np.asarray(vecs.value_lengths()) != dim).any():
                raise ValueError(
                    f"assign_argmax_cosine: every {vec_col} must be a "
                    f"non-null {dim}-element vector, like the codebook"
                )
            cm = (
                vecs.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(n, dim)
            )
            cn_acc = np.zeros(n)
            for j in range(dim):
                cn_acc += cm[:, j] * cm[:, j]
            cn = np.sqrt(cn_acc)
            acc = np.zeros((n, nlist))
            for j in range(dim):
                acc += cm[:, j, None] * cent[None, :, j]
            denom = cn[:, None] * cen[None, :]
            cos = np.where(
                denom > 0.0, acc / np.where(denom == 0.0, 1.0, denom), 0.0
            )
            best = np.argmax(cos, axis=1)
            yield pa.RecordBatch.from_arrays(
                batch.columns
                + [
                    pa.array(cids[best], type=cid_type),
                    pa.array(cos[np.arange(n), best]),
                ],
                names=batch.schema.names + ["list_id", "best_cos"],
            )

    schema = StructType(
        df.schema.fields
        + [
            StructField("list_id", cid_field.dataType),
            StructField("best_cos", DoubleType()),
        ]
    )
    return df.mapInArrow(_assign, schema=schema)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k nearest corpus vectors per query vector (brute force).

    Plan: **broadcast the query side** (top-k search has a small query
    set against a huge corpus — the corpus never moves); both sides
    project (vector, norm) per ROW below the join so the per-pair work
    is one dot fold + scalar divide (``paired_cosine``); then a
    per-query ranking window. Self-matches (same id) are excluded.

    Scale: cost is |Q|·|C| multiply-adds, embarrassingly parallel over
    corpus partitions; the ranking window shuffles only (query_id, k·P)
    candidate rows after AQE. This is the correctness baseline the
    bucketed ANN path is validated against.

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k, ties broken
    by neighbor_id for determinism.
    """
    from db_cdc_poc_spark.partitioning import spread_scan

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(vec_col).alias("qn"),
    )
    # spread: the corpus side carries the |Q| fan-out, and a compact
    # embeddings file plans ONE scan partition (single row group at
    # sf10) — see partitioning.spread_scan
    c = spread_scan(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(vec_col).alias("cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", paired_cosine("qv", "cv", "qn", "cn"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            "rank",
        )
    )


def cosine_topk_np(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_bytes: int = 256 << 20,
) -> DataFrame:
    """Exact top-k via Arrow-batched numpy matmul — the brute-force
    path for when the pair count makes per-pair JVM expression
    evaluation the bottleneck.

    The (small) query set is collected, L2-normalized and broadcast as
    one float64 matrix; each corpus Arrow batch computes
    ``C_norm @ Q.T`` and keeps its local top-k per query
    (argpartition), so the shuffle to the final per-query ranking
    window carries at most partitions * |Q| * k candidate rows. One
    BLAS call per batch replaces dim-length folds per pair — measured
    ~20x over the expression path at 5k x 5k pairs, and the gap widens
    with scale.

    Results are float64-matmul exact; ranking ties broken by
    neighbor_id like ``cosine_topk`` (values can differ from the
    sequential-fold path in the last ulp).

    Only the QUERY side is ever collected (the corpus streams through
    Arrow batches), and its |Q| * dim * 8-byte float64 matrix is
    guarded by ``max_query_bytes`` BEFORE the collect — the bound is
    what each executor holds per core on top of its batch, so the
    256 MB default is deliberate headroom, not a hard physical limit.
    A query set too big for it should be the corpus side of a
    bucketed join instead.
    """
    import numpy as np
    import pandas as pd

    qstats = queries.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.size(F.col(vec_col))).alias("d"),
    ).collect()[0]
    qn, qd = int(qstats.n or 0), int(qstats.d or 0)
    if qn == 0:
        raise ValueError("query set is empty")
    if qn * qd * 8 > max_query_bytes:
        raise ValueError(
            f"{qn} x {qd}-dim float64 query matrix = {qn * qd * 8} bytes "
            f"exceeds max_query_bytes={max_query_bytes}; swap sides or "
            "use the bucketed ANN path"
        )
    q_rows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    q_ids = np.array([r.qid for r in q_rows], dtype=np.int64)
    qm = np.array([r.qv for r in q_rows], dtype=np.float64)
    q_norms = np.linalg.norm(qm, axis=1, keepdims=True)
    q_norms[q_norms == 0] = 1.0
    qm /= q_norms
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, qm))

    out_schema = "query_id long, neighbor_id long, cosine double"

    def _score(batches):
        ids, mat = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            cm = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_norms = np.linalg.norm(cm, axis=1, keepdims=True)
            c_norms[c_norms == 0] = 1.0
            cm = cm / c_norms
            sims = cm @ mat.T  # (batch, |Q|)
            nids = pdf[id_col].to_numpy()
            # local top-(k+1) per query (self-match removed downstream)
            take = min(k + 1, sims.shape[0])
            top = np.argpartition(-sims, take - 1, axis=0)[:take]
            rows = {
                "query_id": np.repeat(ids, take),
                "neighbor_id": nids[top].T.ravel(),
                "cosine": np.take_along_axis(sims, top, axis=0).T.ravel(),
            }
            yield pd.DataFrame(rows)

    cand = corpus.select(id_col, vec_col).mapInPandas(_score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            "rank",
        )
    )


def neardup_pairs_np(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int = 1_000_000,
    max_broadcast_bytes: int = 1 << 30,
) -> DataFrame:
    """Exact all-pairs cosine near-dup via Arrow-batched numpy matmul.

    The normalized corpus matrix is broadcast once; each Arrow batch
    computes ``B @ C.T`` (one BLAS call) and emits only pairs above
    the threshold with id_a < id_b. Work is the same O(n^2) as
    ``dedup.embedding_neardup_pairs`` but vectorized — per-pair cost
    drops from an interpreted dot fold to a fused multiply-add.

    The broadcast bounds this path, and the bound is enforced BEFORE
    anything reaches the driver (VERDICT r7: guarding after collect
    means the driver has already materialized the corpus it is about
    to reject) and in BYTES as well as rows (1M rows passes a row
    guard while 1M x 1024-dim float64 is an 8 GB matrix): one
    executor-side aggregate computes (n, dim), and n * dim * 8 must
    fit ``max_broadcast_bytes`` — the float64 matrix the driver AND
    every executor must hold. Beyond that, bucket first
    (``neardup_pairs_bucketed`` / ann_topk's hyperplane join) —
    all-pairs exact at that scale is the wrong query.
    """
    import numpy as np
    import pandas as pd

    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.size(F.col(vec_col))).alias("d"),
    ).collect()[0]
    n, dim = int(stats.n or 0), int(stats.d or 0)
    if n > max_broadcast_rows:
        raise ValueError(
            f"{n} vectors exceed max_broadcast_rows={max_broadcast_rows}; "
            "use the bucketed ANN path"
        )
    est_bytes = n * dim * 8
    if est_bytes > max_broadcast_bytes:
        raise ValueError(
            f"{n} x {dim}-dim float64 corpus = {est_bytes} bytes exceeds "
            f"max_broadcast_bytes={max_broadcast_bytes}; use the bucketed "
            "ANN path"
        )
    rows = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).collect()
    ids = np.array([r.id for r in rows], dtype=np.int64)
    mat = np.array([r.v for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    mat /= norms
    bc = df.sparkSession.sparkContext.broadcast((ids, mat))

    def _pairs(batches):
        all_ids, all_mat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            bm = np.array(list(pdf["v"]), dtype=np.float64)
            bn = np.linalg.norm(bm, axis=1, keepdims=True)
            bn[bn == 0] = 1.0
            bm = bm / bn
            bids = pdf["id"].to_numpy()
            sims = bm @ all_mat.T  # (batch, n)
            hit_r, hit_c = np.nonzero(sims >= threshold)
            ra, cb = bids[hit_r], all_ids[hit_c]
            keep = ra < cb  # dedupe mirrored pairs + self-matches
            yield pd.DataFrame(
                {
                    "id_a": ra[keep],
                    "id_b": cb[keep],
                    "cosine": np.round(sims[hit_r, hit_c][keep], 6),
                }
            )

    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).mapInPandas(_pairs, schema="id_a long, id_b long, cosine double")


def rademacher_weights(
    tables: int, bits: int, dim: int
) -> dict[tuple[int, int], list[float]]:
    """Deterministic ±1 hyperplane weights, derived from md5 so every
    engine can reproduce them: weight(t, p, j) = +1 iff bit 0 of the
    big-endian first 8 bytes of ``md5(str(t*1_000_000 + p*4096 + j))``
    is 0 (hashlib.md5 == Spark ``md5`` == DuckDB ``md5`` bit-for-bit).
    Used by the cross-engine-checkable ANN path: the same constants are
    embedded in the Spark plan and the oracle SQL, and each engine then
    computes projections/buckets/candidates independently."""
    import hashlib

    out: dict[tuple[int, int], list[float]] = {}
    for t in range(tables):
        for p in range(bits):
            seed = t * 1_000_000 + p * 4096
            out[(t, p)] = [
                1.0
                if int.from_bytes(
                    hashlib.md5(str(seed + j).encode()).digest()[:8], "big"
                )
                & 1
                == 0
                else -1.0
                for j in range(dim)
            ]
    return out


def hyperplane_buckets(
    vec: Column | str,
    tables: int = 4,
    bits: int = 8,
    weights: dict[tuple[int, int], list[float]] | None = None,
) -> Column:
    """array<struct<table_id:int, bucket:bigint>> LSH bucket per hash table.

    Random-hyperplane (SimHash-for-cosine) signs: hyperplane (t,p)
    component j is a Rademacher ±1 weight derived from
    ``xxhash64(t*1e6 + p*4096 + j)`` — deterministic, seedable, and
    computed inline in codegen, so there is no hyperplane matrix to
    broadcast and no Python on the executor. Bucket for table t packs
    ``bits`` sign bits of the projections.

    Pass ``weights`` (``rademacher_weights``) to use precomputed ±1
    literals instead: the projection becomes a zip_with dot fold against
    an array literal (same codegen class, slightly cheaper) and, because
    the constants are engine-independent, the whole bucketing is
    reproducible by an external oracle.

    P[same bucket] = (1 - theta/pi)^bits per table; multiple tables give
    the OR. Candidate join is an equi-join on (table_id, bucket).
    """
    v = F.col(vec) if isinstance(vec, str) else vec

    def _proj(t: int, p: int) -> Column:
        if weights is not None:
            wv = F.lit(weights[(t, p)])
            return F.aggregate(
                F.zip_with(v, wv, lambda x, w: x.cast("double") * w),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        # transform's (element, index) two-arg form is intentional here:
        # the index seeds the per-component weight.
        plane_seed = t * 1_000_000 + p * 4096
        return F.aggregate(
            F.transform(
                v,
                lambda x, j: x.cast("double")
                * F.when(
                    F.xxhash64(F.lit(plane_seed) + j).bitwiseAND(F.lit(1)) == 0,
                    F.lit(1.0),
                ).otherwise(F.lit(-1.0)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def _bucket(t: int) -> Column:
        b = F.lit(0).cast("long")
        for p in range(bits):
            b = b + F.when(_proj(t, p) >= 0, F.lit(2 ** p).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        return b

    return F.array(
        *[
            F.struct(
                F.lit(t).alias("table_id"), _bucket(t).alias("bucket")
            )
            for t in range(tables)
        ]
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-Flat approximate top-k: coarse-quantize the corpus into
    inverted lists, probe the query's ``nprobe`` nearest lists, exact
    cosine re-rank inside them.

    ``centroids`` is the coarse codebook as a DataFrame (id, vector) —
    typically a deterministic sample of the corpus (a cheap, standard
    alternative to k-means training; pass trained centroids when you
    have them). Assignment is one corpus pass through
    :func:`assign_argmax_cosine` (O(|centroids|) per vector, no
    shuffle). The probe join is an equi-join on list_id: at scale the
    corpus is scanned once for assignment, then each query reads
    ~nprobe/nlist of the inverted lists — the IVF selectivity knob. A
    (query, neighbor) pair can't repeat (each vector lives in exactly
    one list), so no dedup is needed, unlike multi-table LSH.

    Deterministic ties: assignment prefers the smaller centroid id;
    ranking breaks ties by neighbor_id. Output matches ``cosine_topk``:
    (query_id, neighbor_id, cosine, rank).
    """
    cent = centroids.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("ce"),
        norm(vec_col).alias("cen"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(vec_col).alias("cn"),
    )
    inv = assign_argmax_cosine(c, "cv", cent)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(vec_col).alias("qn"),
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("cos_c").desc(), F.col("cid"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("cos_c", paired_cosine("qv", "ce", "qn", "cen"))
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "qv", "qn", F.col("cid").alias("list_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        probes.join(inv, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", paired_cosine("qv", "cv", "qn", "cn"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            "rank",
        )
    )


def neardup_pairs_bucketed(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: int = 8,
    bits: int = 12,
    weights: dict[tuple[int, int], list[float]] | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via hyperplane bucketing + exact verify
    — the scale default (the all-pairs forms in ``dedup.
    embedding_neardup_pairs`` / ``neardup_pairs_np`` are the validation
    baselines).

    Plan: project (vector, norm, buckets) per ROW, explode buckets,
    self-EQUI-join on (table_id, bucket) — shuffled by bucket, never a
    nested-loop/cartesian pair space — dropDuplicates the candidate
    pairs, then exact ``paired_cosine`` verification keeps pairs at or
    above the threshold.

    Tuning: per-table collision P = (1-theta/pi)^bits; miss after T
    tables = (1-P)^T. For true near-dups (cos >= 0.95, theta <= 18°)
    the defaults give P≈0.28, miss≈7e-2 at T=8 — raise ``tables`` for
    tighter recall. Low thresholds (<0.6) need small ``bits``/many
    tables and prune little: brute force is genuinely the right tool
    there, bucketing pays off for duplicate-grade similarity.

    Output: (id_a, id_b, cosine) — same contract as
    ``embedding_neardup_pairs``.
    """
    v = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(vec_col).alias("nrm"),
    )
    bk = df.select(
        F.col(id_col).alias("id"),
        F.explode(hyperplane_buckets(vec_col, tables, bits, weights)).alias("b"),
    )
    # candidate join + dedup carry ONLY ids — a pair colliding in many
    # tables would otherwise drag its vectors through the dedup shuffle
    # once per collision (measured 20x slower); vectors re-join per
    # DISTINCT pair for the verify
    cand = (
        bk.alias("a")
        .join(
            bk.alias("b"),
            (F.col("a.b.table_id") == F.col("b.b.table_id"))
            & (F.col("a.b.bucket") == F.col("b.b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.join(
            v.select(
                F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
            ),
            "id_a",
        )
        .join(
            v.select(
                F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
            ),
            "id_b",
        )
        .withColumn("cosine", paired_cosine("va", "vb", "na", "nb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: int = 4,
    bits: int = 8,
    weights: dict[tuple[int, int], list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via hyperplane bucketing, cosine re-rank.

    Candidates = corpus vectors sharing any (table_id, bucket) with the
    query. The candidate join is an equi-join shuffled by bucket — the
    corpus is never cross-joined. Exact cosine re-ranks candidates; recall
    is tunable with (tables, bits). At 100 TB: corpus bucket table is
    computed once and can be persisted/bucketed by (table_id, bucket).

    ``weights``: optional precomputed hyperplanes (``rademacher_weights``)
    for engine-independent bucketing — see ``hyperplane_buckets``.

    Output schema matches ``cosine_topk`` so the two are comparable.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(vec_col).alias("qn"),
        hyperplane_buckets(vec_col, tables, bits, weights).alias("qb"),
    ).select("query_id", "qv", "qn", F.explode("qb").alias("b"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(vec_col).alias("cn"),
        hyperplane_buckets(vec_col, tables, bits, weights).alias("cb"),
    ).select("neighbor_id", "cv", "cn", F.explode("cb").alias("b"))
    cand = (
        q.join(
            c,
            (q["b.table_id"] == c["b.table_id"])
            & (q["b.bucket"] == c["b.bucket"])
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select("query_id", "qv", "qn", "neighbor_id", "cv", "cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("cosine", paired_cosine("qv", "cv", "qn", "cn"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            "rank",
        )
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization per vector — the storage/transport
    format a 100 TB embedding corpus actually ships (4x smaller than
    float32, 8x smaller than float64; recall loss at 8 bits is
    negligible for cosine retrieval).

    scale = max|v|/127; q_i = round(v_i/scale) in [-127, 127]. The
    output audits the codec per vector: the exact integer digest of
    the codes (sum/min/max — order-free) and the max absolute
    reconstruction error |v_i - q_i*scale| (max of per-element IEEE
    arithmetic — order-free, bit-identical across engines).

    Plan: posexplode the vector, ONE window shuffle on the id computes
    max|v| per vector, the per-element quantize + error runs on the
    exploded rows, and the groupBy(id) digest rides the SAME hash
    partitioning (no second exchange — AQE reuses the window's
    shuffle). The scale is deliberately NOT computed as
    ``array_max(transform(...))`` referenced inside a second
    ``transform`` lambda: a non-trivial expression referenced from a
    higher-order-function body is re-evaluated PER ELEMENT (the
    measured O(d^2) trap, ARCHITECTURE.md) — explode + window keeps
    every element touched exactly once at any dimension.

    Output: (id, dim, scale, q_sum, q_min, q_max, max_abs_err).
    """
    el = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col)).alias("pos", "v"),
    ).withColumn("v", F.col("v").cast("double"))
    w = Window.partitionBy("id")
    el = el.withColumn("scale", F.max(F.abs("v")).over(w) / F.lit(127.0))
    # All-zero vector => scale 0: quantize to 0 rather than NaN (mirrored
    # verbatim in the oracle so neither engine emits non-finite bits).
    q = F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(
        F.round(F.col("v") / F.col("scale"), 0)
    )
    return (
        el.withColumn("q", q)
        .withColumn("err", F.abs(F.col("v") - F.col("q") * F.col("scale")))
        .groupBy("id")
        .agg(
            F.count("*").cast("int").alias("dim"),
            F.first("scale").alias("scale"),
            F.sum("q").cast("long").alias("q_sum"),
            F.min("q").cast("int").alias("q_min"),
            F.max("q").cast("int").alias("q_max"),
            F.max("err").alias("max_abs_err"),
        )
    )


def hard_negatives(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the top-k most-similar corpus vectors with a DIFFERENT label — the
    highest-value negatives precisely because the model currently finds
    them similar.

    Same plan shape as ``cosine_topk`` (broadcast query side, per-row
    norms below the join, per-query ranking window) with the label
    inequality folded into the join condition, so excluded same-label
    pairs are never scored. Output: (query_id, negative_id, cosine,
    rank), ties broken by negative_id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col(label_col).alias("q_label"),
        norm(vec_col).alias("qn"),
    )
    c = df.select(
        F.col(id_col).alias("negative_id"),
        F.col(vec_col).alias("cv"),
        F.col(label_col).alias("c_label"),
        norm(vec_col).alias("cn"),
    )
    scored = c.join(
        F.broadcast(q), F.col("q_label") != F.col("c_label")
    ).withColumn("cosine", paired_cosine("qv", "cv", "qn", "cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "negative_id",
            F.round("cosine", 6).alias("cosine"),
            "rank",
        )
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Per-label mean embedding (class centroids / prototypes): the
    nearest-centroid classification and k-means-style cluster summary
    primitive. posexplode -> groupBy(label, dim) is one shuffle of
    |rows|·|dims| skinny rows with map-side partial sums — the
    set-based shape; no vectors are ever collected. ``ndigits``
    rounding absorbs the last-ulp wobble of float summation order.

    Output: ``(label, pos, centroid)`` — one row per (label, dimension).
    """
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    return ex.groupBy("label", "pos").agg(
        F.round(F.avg(F.col("val").cast("double")), ndigits).alias("centroid")
    )


def nearest_centroid(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ndigits: int = 6,
) -> DataFrame:
    """Nearest-centroid assignment: classify every vector to its closest
    class centroid (squared L2), returning ``(id, true_label,
    pred_label, dist2)`` — the prototype classifier / cluster-assignment
    step (one k-means iteration is exactly this plus a re-centroid).

    Scale shape: centroids are a |labels|-row table joined BROADCAST
    onto the corpus (the corpus never moves); the per-pair distance is
    a sequential ``aggregate`` fold over ``zip_with`` — executor-side
    codegen, bit-reproducible (0.0 + x = x exactly, so the fold order
    matches any strict left-fold replay), no UDF; the argmin is a
    ``min_by`` with a (dist, label) struct key, one map-side-partial
    aggregation, ties broken by label.
    """
    cen = (
        label_centroids(df, label_col, vec_col, ndigits)
        .groupBy(F.col("label").alias("clabel"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
                lambda x: x.centroid,
            ).alias("cvec")
        )
    )
    v = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("true_label"),
        F.col(vec_col).cast("array<double>").alias("emb"),
    )
    dist2 = F.aggregate(
        F.zip_with(F.col("emb"), F.col("cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = v.join(F.broadcast(cen)).withColumn("dist2", dist2)
    return scored.groupBy("id").agg(
        F.first("true_label").alias("true_label"),
        F.min_by(F.col("clabel"), F.struct(F.col("dist2"), F.col("clabel"))).alias(
            "pred_label"
        ),
        F.min("dist2").alias("dist2"),
    )


def centroid_confusion(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Confusion counts of the nearest-centroid assignment:
    ``(true_label, pred_label, n)`` — the embedding-space separability
    report (a diagonal-heavy matrix = labels form tight clusters)."""
    assigned = nearest_centroid(df, label_col, vec_col, id_col)
    return assigned.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).alias("n")
    )


def kmeans_refine(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ndigits: int = 6,
) -> DataFrame:
    """One Lloyd iteration of k-means, seeded from the label centroids:
    assign every vector to its nearest centroid (broadcast, fold-exact
    distances — see :func:`nearest_centroid`), then recompute the
    centroid of each ASSIGNED cluster. Iterative ML on Spark without a
    driver loop per element: each iteration is two aggregations and a
    broadcast join, so k iterations are a k-stage declarative chain —
    and one step stays fully oracle-replayable.

    Output: ``(label, pos, centroid)`` — the refined centroid table,
    same shape as :func:`label_centroids` (labels that captured no
    vectors disappear, exactly as in Lloyd's algorithm).
    """
    assigned = nearest_centroid(df, label_col, vec_col, id_col, ndigits)
    reassigned = df.join(
        assigned.select(F.col("id").alias(id_col), "pred_label"), id_col
    )
    return label_centroids(
        reassigned.select(F.col("pred_label").alias("label"), vec_col),
        "label",
        vec_col,
        ndigits,
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 60,
    top_k: int = 20,
    id_col: str = "id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked retrieval lists — the
    standard hybrid-search combiner (Cormack & Clarke SIGIR'09): fuse a
    lexical (BM25) list with a dense (embedding) list without score
    calibration, since only RANKS cross the boundary.

    score(d) = sum over lists of 1/(k + rank_list(d)), missing list
    membership contributing 0. Weights are materialized as
    ``floor(1e6 / (k + rank))`` integer micro-units so the two-term sum
    is exact integer arithmetic — engine-independent (an IEEE division
    is bit-identical everywhere and ``floor`` of it is unambiguous),
    so a DuckDB oracle replays the fusion bit-for-bit.

    Plan shape: both inputs are top-N lists (tiny — they came out of a
    retriever), so the full outer join on ``id`` broadcasts; the final
    top-k orders by the integer score then id (deterministic
    tie-break) via TakeOrderedAndProject. Fusion cost is O(N_a + N_b)
    regardless of corpus size — the corpus never enters this operator.

    Output: ``(id, rank_a, rank_b, rrf_e6, fused_rank)`` where ranks
    from a list the doc missed are NULL and ``rrf_e6`` is the score in
    integer micro-units.
    """
    w_a = ranked_a.select(
        F.col(id_col).alias("id"),
        F.col(rank_col).alias("rank_a"),
        F.floor(F.lit(1000000.0) / (F.lit(k) + F.col(rank_col)))
        .cast("long")
        .alias("w_a"),
    )
    w_b = ranked_b.select(
        F.col(id_col).alias("id"),
        F.col(rank_col).alias("rank_b"),
        F.floor(F.lit(1000000.0) / (F.lit(k) + F.col(rank_col)))
        .cast("long")
        .alias("w_b"),
    )
    fused = (
        w_a.join(w_b, "id", "full_outer")
        .withColumn(
            "rrf_e6",
            F.coalesce(F.col("w_a"), F.lit(0)) + F.coalesce(F.col("w_b"), F.lit(0)),
        )
    )
    win = Window.orderBy(F.col("rrf_e6").desc(), F.col("id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(win).cast("int"))
        .filter(F.col("fused_rank") <= top_k)
        .select("id", "rank_a", "rank_b", "rrf_e6", "fused_rank")
    )


def diversity_sample(
    df: DataFrame,
    per_bucket: int = 3,
    bits: int = 8,
    weights: dict[tuple[int, int], list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Diversity-aware subsampling over an embedding corpus: stratify
    the angular space with ONE hyperplane-LSH table (2^bits strata)
    and keep at most ``per_bucket`` vectors per stratum — the
    budget-allocation complement of near-dup removal (dedup deletes
    redundant pairs; this CAPS every dense region so no mode dominates
    the sample, the greedy-coverage idea behind coreset/DataComp-style
    curation at corpus scale).

    Within a stratum the draw is the md5(id) order — deterministic,
    engine-independent, and independent of the embedding geometry (so
    the cap does not systematically prefer any sub-region).

    Plan: bucket assignment is map-only inline codegen (no hyperplane
    matrix broadcast when ``weights`` is None); the per-stratum cap is
    ONE shuffle on bucket + a ranking window. For 100 TB size ``bits``
    so strata stay partition-sized (buckets ≈ corpus/10⁴); the output
    is at most ``per_bucket · 2^bits`` rows regardless of input size.

    Output: ``(bucket, id, pick)`` — kept rows only, pick 1..per_bucket.
    """
    sel = df.select(
        F.col(id_col).alias("id"),
        hyperplane_buckets(vec_col, 1, bits, weights)[0]["bucket"].alias(
            "bucket"
        ),
        F.md5(F.col(id_col).cast("string")).alias("__key"),
    )
    w = Window.partitionBy("bucket").orderBy("__key", "id")
    return (
        sel.withColumn("pick", F.row_number().over(w).cast("int"))
        .filter(F.col("pick") <= per_bucket)
        .select("bucket", "id", "pick")
    )


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    threshold: float = 0.8,
    ndigits: int = 6,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public method): semantic
    deduplication by clustering embeddings and dropping, within each
    cluster, every member of a high-cosine pair EXCEPT the one least
    typical of the cluster (lowest cosine to the centroid — the paper's
    keep-the-outlier policy, which preserves diversity while removing
    semantic templates).

    Clusters are nearest-centroid assignments against the per-label
    mean codebook (``label_centroids``); assignment, pair screening and
    the keep rule all use ONE metric — cosine via the sequential-fold
    ``dot`` — so a SQL engine with an order-stable list dot product
    replays every comparison bit-for-bit (ties: assignment prefers the
    lower cluster id, the keep rule drops the higher ``id_col``).

    Scale shape: the codebook is |labels| rows (parameter-bounded, the
    same codebook contract as ``ivf_assignment_stats``), assigned in
    one pass by :func:`assign_argmax_cosine`; the assignment is then
    MATERIALIZED (it feeds both pair sides and the survivor join —
    un-cut, Catalyst re-runs the scan + assignment once per reference;
    ``checkpoint_dir`` upgrades the cut to a durable parquet
    checkpoint for cluster-scale fault tolerance). The only pair join
    is WITHIN clusters (equi on cluster id, range on id): density n²/k
    per cluster instead of n² global, the same bucketed-candidate
    story as ``neardup_pairs_bucketed``, and the drop rule is
    pairwise-local — no connected components, no iteration. Skewed
    clusters are visible in ``ivf_assignment_stats`` before this runs.

    Output: survivors only — ``id_col``, ``cluster`` (the assigned
    label id), ``cos_centroid`` (rounded to ``ndigits``).
    """
    cen = (
        label_centroids(df, label_col, vec_col, ndigits)
        .groupBy(F.col("label").alias("__cl"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
                lambda x: x.centroid,
            ).alias("__cvec")
        )
    )
    v = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__e"),
    ).withColumn("__nrm", norm("__e"))
    assigned = assign_argmax_cosine(v, "__e", cen).select(
        "__id", F.col("list_id").alias("__cluster"), "__e", "__nrm",
        F.col("best_cos").alias("__cos_c"),
    )
    # The assignment feeds THREE consumers (both pair sides + the
    # survivor join); un-materialized, Catalyst re-runs the scan +
    # assignment once per reference. Cut lineage at
    # the chokepoint: localCheckpoint by default, durable parquet when
    # checkpoint_dir is set (the cluster-scale fault-tolerance path).
    assigned = materialize(assigned, checkpoint_dir, label="semdedup-assign")
    a = assigned.select(
        F.col("__cluster").alias("__ca"), F.col("__id").alias("__ia"),
        F.col("__e").alias("__ea"), F.col("__nrm").alias("__na"),
        F.col("__cos_c").alias("__cca"),
    )
    b = assigned.select(
        F.col("__cluster").alias("__cb"), F.col("__id").alias("__ib"),
        F.col("__e").alias("__eb"), F.col("__nrm").alias("__nb"),
        F.col("__cos_c").alias("__ccb"),
    )
    pairs = a.join(
        b,
        (F.col("__ca") == F.col("__cb")) & (F.col("__ia") < F.col("__ib")),
    ).filter(
        paired_cosine("__ea", "__eb", "__na", "__nb") >= F.lit(threshold)
    )
    # keep the member FARTHEST from the centroid; drop the other
    # (tie on cos_c -> drop the higher id)
    drops = pairs.select(
        F.when(F.col("__cca") > F.col("__ccb"), F.col("__ia"))
        .when(F.col("__ccb") > F.col("__cca"), F.col("__ib"))
        .otherwise(F.greatest("__ia", "__ib"))
        .alias("__id")
    ).distinct()
    return (
        assigned.join(drops, "__id", "left_anti")
        .select(
            F.col("__id").alias(id_col),
            F.col("__cluster").alias("cluster"),
            F.round(F.col("__cos_c"), ndigits).alias("cos_centroid"),
        )
    )


# --------------------------------------------------------------------------
# Binary (1-bit sign) quantization + Hamming search — the cheapest
# embedding scan path: 63 dimensions per 8-byte word
# --------------------------------------------------------------------------


def binary_sign_codes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "bq_code",
) -> DataFrame:
    """1-bit sign quantization: each dimension becomes one bit
    (``x > 0`` -> 1, else 0 — ties at exactly 0 quantize to 0), packed
    little-endian into ``array<bigint>`` words of 63 bits each (the
    same word discipline as the wide PQ layout: bit 63 never set, so
    every word is non-negative and Spark/DuckDB shifts agree exactly).

    The crudest and cheapest vector compression: a 64-dim float64
    vector (512 B) becomes two BIGINTs (16 B) — 32x — and distance
    becomes XOR + popcount. For mean-centered embeddings, sign-bit
    Hamming distance is a monotone proxy for angular distance (the
    1-bit SimHash/hyperplane-LSH limit with axis-aligned hyperplanes);
    the standard serving recipe is Hamming shortlist -> exact rerank
    (:func:`exact_rerank` in ``vector_index``), the same
    shortlist-then-rescue shape as the PQ ADC path.

    Pure Column expressions — slice/zip_with/aggregate fold per word,
    no explode, no shuffle, no Python: encoding is a map-only
    projection that scales embarrassingly. Dimensionality is probed
    from one row (driver-side O(1)); empty input returns empty.
    """
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row.d is None:
        return df.select(
            F.col(id_col),
            F.array().cast("array<bigint>").alias(out_col),
        ).limit(0)
    d = int(row.d)
    vec = F.col(vec_col).cast("array<double>")
    words = []
    for w in range(-(-d // 63)):
        lo = w * 63
        width = min(63, d - lo)
        terms = F.zip_with(
            F.slice(vec, lo + 1, width),
            F.sequence(F.lit(0), F.lit(width - 1)),
            lambda x, j: F.when(
                x > 0,
                F.call_function("shiftleft", F.lit(1).cast("long"), j),
            ).otherwise(F.lit(0).cast("long")),
        )
        words.append(
            F.aggregate(terms, F.lit(0).cast("long"), lambda acc, t: acc + t)
        )
    return df.select(F.col(id_col), F.array(*words).alias(out_col))


def hamming_topk(
    codes: DataFrame,
    query_codes: DataFrame,
    id_col: str = "vec_id",
    code_col: str = "bq_code",
    k_top: int = 5,
) -> DataFrame:
    """Top-k nearest by Hamming distance over packed sign codes:
    ``sum over words of bit_count(xor(q_word, c_word))``, ranked
    ascending with ``neighbor_id`` tie-break, self-matches excluded.

    The scan is |corpus| x |queries| XOR+popcount over 8-byte words —
    the designed LINEAR serving scan (the query side is the bounded
    broadcast relation, same contract as ``cosine_topk``): at 100 TB
    this reads 16 B/vector instead of 512, and the plan is a broadcast
    nested-loop by construction (there is no join key — every code is
    scored), exactly like the allowlisted q24 exact baseline but 32x
    less data moved. Compose with IVF routing for sublinear probes, or
    follow with ``exact_rerank`` to rescue the 1-bit quantization loss
    (measured by q176's oracle-checked ranking and the recall reports'
    methodology).

    Output: (query_id, neighbor_id, hamming, rank).
    """
    q = query_codes.select(
        F.col(id_col).alias("query_id"), F.col(code_col).alias("__qw")
    )
    c = codes.select(
        F.col(id_col).alias("neighbor_id"), F.col(code_col).alias("__cw")
    )
    ham = F.aggregate(
        F.zip_with(
            F.col("__qw"),
            F.col("__cw"),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", ham.alias("hamming"))
        .withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= k_top)
        .select("query_id", "neighbor_id", "hamming", "rank")
    )
