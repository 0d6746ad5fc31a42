"""Persisted IVF vector index: build once, probe many.

`similarity.ivf_topk` re-assigns the whole corpus to inverted lists on
every call — right for a one-shot query, wrong for a serving/recall
workload where the same 100 TB corpus answers many query batches. This
module persists the build products:

    <path>/centroids/            -- the coarse codebook (small parquet)
    <path>/lists/list_id=<n>/    -- corpus vectors + norms, hive-
                                    PARTITIONED by inverted list

Partitioning by ``list_id`` makes Spark's partition pruning implement
the IVF selectivity: probing ``nprobe`` of ``nlist`` lists compiles to
``PartitionFilters: [list_id IN (...)]`` — the scan never opens the
other lists' files (asserted in tests). Per-vector norms are computed
at build time and stored, so probes skip them entirely.

Build cost is one corpus pass (the shared numpy codebook assignment
``similarity.assign_argmax_cosine``, then one partitioned write). Probe
cost is |probed lists| scan + one equi-join — no corpus shuffle. The
same layout serves any number of query batches until the corpus
changes; rebuilds are full rewrites (an incremental variant would route
new vectors to their list directory, the same append shape as
`streaming/dedup_index.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from db_cdc_poc_spark.checkpointing import materialize
from db_cdc_poc_spark.sources.exchange import local_df
from db_cdc_poc_spark.partitioning import spread_scan as _spread
from db_cdc_poc_spark.operators.similarity import (
    assign_argmax_cosine,
    norm,
    paired_cosine,
)

# Offset added to every vector element before floor-micro-scaling in
# the Lloyd mean updates: keeps every scaled term positive so Spark's
# ``div`` (truncating) and DuckDB's ``//`` (flooring) agree, same trick
# as the +1 cosine offset below but sized for raw/residual COORDINATES
# (unit-gaussian-ish data: |element| << 1024; a residual element is
# bounded by |x_i| + |c_i|, both micro-floored means of the data range).
_MEAN_OFFSET = 1024.0
_MEAN_SCALE = 1_000_000


def _check_mean_range(df: DataFrame, vec_col: str, what: str) -> None:
    """Reject training vectors whose elements reach ``_MEAN_OFFSET``.

    The exact-integer Lloyd mean relies on ``val + _MEAN_OFFSET`` being
    POSITIVE for every element so Spark's ``div`` (truncating) and
    DuckDB's ``//`` (flooring) agree; an element <= -1024 flips that
    silently and the engines diverge on the centroid. One max(abs)
    aggregate over the parameter-bounded cohort — the same
    reject-don't-degrade pattern as :func:`_validate_pq_params`.
    """
    row = df.select(
        F.max(
            F.array_max(
                F.transform(
                    F.col(vec_col).cast("array<double>"), lambda x: F.abs(x)
                )
            )
        ).alias("mx")
    ).first()
    if row is not None and row.mx is not None and float(row.mx) >= _MEAN_OFFSET:
        raise ValueError(
            f"{what} contains an element with |x| = {row.mx} >= "
            f"{_MEAN_OFFSET}: the exact-integer Lloyd mean's positive-"
            "offset trick (Spark div vs DuckDB // equivalence) only "
            f"holds for |element| < {_MEAN_OFFSET}. Rescale the "
            "vectors before training."
        )


def _probe_dim(codebook_vectors: DataFrame, vec_col: str) -> int:
    """Vector dimensionality from a 1-row probe of the (parameter-
    bounded) codebook relation — the repo-allowed bounded-collect shape."""
    row = codebook_vectors.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row.d is None:
        raise ValueError("codebook_vectors is empty")
    return int(row.d)


def _validate_pq_params(d: int, m: int, k: int, wide: bool = False) -> int:
    """PQ parameter validation (returns bits per subspace).

    * ``d % m != 0`` would silently TRUNCATE the trailing ``d % m``
      dimensions out of every subvector slice — recall degrades with
      no signal; reject instead.
    * In the single-word layout (``wide=False``), ``m * bits > 63``
      would pack the top subspace's code into (or past) the sign bit
      of the BIGINT ``pq_code`` — shiftleft aliases silently (k=256,
      m=8 puts bit 63 in play); reject instead. The round-9/12 PQ
      curves proved recall at fixed bits DECAYS with corpus size, so
      a 100 TB corpus needs m*bits past 63: ``wide=True`` switches to
      the multi-word ``array<bigint>`` layout (``_pq_words_layout``)
      with no packing cap — each word carries ``63 // bits`` whole
      codes (codes never straddle words, and bit 63 is never used, so
      every word is non-negative and arithmetic vs logical shifts
      agree between Spark and the oracle).
    * ``bits > 63`` can't fit ONE code per word; reject (k that large
      is never a sane PQ codebook anyway).
    """
    if d <= 0:
        raise ValueError(f"vector dim must be positive, got {d}")
    if m <= 0 or d % m != 0:
        raise ValueError(
            f"m={m} must divide the vector dim d={d} exactly: a "
            f"non-divisible split silently drops the last {d % m} "
            "dimensions from every subspace slice"
        )
    if k < 1:
        raise ValueError("codebook must have at least one codeword")
    bits = max(1, (int(k) - 1).bit_length())
    if not wide and m * bits > 63:
        raise ValueError(
            f"m*bits = {m}*{bits} = {m * bits} > 63: the packed code "
            "would overflow a signed 64-bit pq_code (k=256/m=8 packs "
            "into the sign bit); lower k or m, or pass wide=True for "
            "the array<bigint> multi-word layout"
        )
    if bits > 63:
        raise ValueError(
            f"bits per code = {bits} > 63: one codeword id cannot fit "
            "a 63-bit word; lower k"
        )
    return bits


def _pq_words_layout(m: int, bits: int) -> tuple[int, int]:
    """(codes_per_word, n_words) for the wide ``array<bigint>`` code
    layout: codes pack little-endian within each word, ``63 // bits``
    whole codes per word so no code straddles a word boundary and bit
    63 stays clear (words are always non-negative)."""
    cpw = 63 // bits
    return cpw, -(-m // cpw)


def residualize(
    corpus: DataFrame,
    coarse_centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its argmax-cosine coarse list (ties to the
    smaller ``list_id`` — the ``ivf_topk``/``IvfIndex`` rule) and
    replace the vector with its residual ``x - centroid(list)`` — the
    FAISS-style IVF-PQ encoding input (Jégou et al. TPAMI'11 §III.C:
    quantizing residuals instead of raw vectors shrinks the energy the
    fine quantizer must cover).

    ``coarse_centroids`` is (``list_id``, ``vec_col``) and parameter-
    bounded (nlist rows, ARCHITECTURE rule 13): one corpus pass through
    :func:`assign_argmax_cosine`, O(nlist) per row, then a broadcast
    equi-join fetches the winning centroid. Output: (``id_col``,
    ``list_id``, ``vec_col``=residual).
    """
    cent = coarse_centroids.select(
        F.col("list_id").alias("__cid"),
        F.col(vec_col).cast("array<double>").alias("__ce"),
    )
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    best = assign_argmax_cosine(c, "__v", cent)
    return best.join(
        F.broadcast(cent), best["list_id"] == cent["__cid"]
    ).select(
        F.col(id_col),
        "list_id",
        F.zip_with("__v", "__ce", lambda a, b: a - b).alias(vec_col),
    )


def opq_rotation(
    train: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    residual_centroids: DataFrame | None = None,
) -> list[list[float]]:
    """Parametric OPQ rotation (Ge et al., CVPR'13 "Optimized Product
    Quantization", the eigenvalue-allocation variant OPQ-P): an
    orthonormal matrix R such that PQ in the rotated space x' = R·x
    splits variance EVENLY across the m subspaces — correlated or
    variance-skewed dimensions are PQ's worst case (one subspace
    carries all the information and k codewords can't cover it), and
    a data-independent subspace slice has no reason to be balanced.

    Method (all driver-side numpy over the parameter-bounded training
    cohort — the same bounded-collect shape as the Lloyd codebooks):

    1. covariance of the centered cohort (d x d, d = 64 here);
    2. eigendecomposition (deterministic up to sign; signs are fixed
       by forcing each eigenvector's largest-|component| positive);
    3. balanced allocation: the descending spectrum is dealt to the m
       subspaces in boustrophedon (snake) order, pairing strong
       directions with weak ones — the paper's balanced-product
       objective via a scale-free positional rule (see the inline
       note for why the literal greedy-min-product anti-balances
       when all eigenvalues sit below 1);
    4. R's rows are the allocated eigenvectors, so rows
       [j*d/m, (j+1)*d/m) form subspace j.

    R is orthonormal: distances and cosines are preserved exactly, so
    IVF routing quality and :func:`exact_rerank` results are unchanged
    — only the PQ cell shapes improve. Rotation derivation is linear
    algebra the SQL oracle cannot replay, so OPQ ships as an operator
    with pytest + measured-recall evidence (scripts/bench_pq_curve.py
    --opq), not as a registry query; the rotated pipeline downstream
    of R is the ordinary oracled PQ machinery.

    ``residual_centroids`` (a (list_id/vec_id, vector) frame, e.g. the
    coarse codebook of a preliminary unrotated IVF pass) switches the
    covariance to RESIDUALS: each training vector's nearest-cosine
    centroid is subtracted first. For residual-encoded IVF-PQ this is
    the right training target — the coarse quantizer absorbs most of
    the raw covariance's leading directions, so an R learned on raw
    vectors aligns subspaces to structure the PQ stage never sees
    (measured on the anisotropic fixture: raw-trained OPQ DEGRADES
    recall vs identity, residual-trained restores it — SCALING.md
    "OPQ on anisotropic data").

    Returns R as a plain list of rows (callers pass it to
    :func:`rotate_vectors`).
    """
    import numpy as np

    rows = train.select(F.col(vec_col).cast("array<double>")).collect()
    if not rows:
        raise ValueError("opq_rotation: empty training cohort")
    x = np.array([r[0] for r in rows])
    if residual_centroids is not None:
        cvec = (
            vec_col
            if vec_col in residual_centroids.columns
            else residual_centroids.columns[-1]
        )
        cc = residual_centroids.select(
            F.col(cvec).cast("array<double>")
        ).collect()
        c = np.array([r[0] for r in cc])
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
        x = x - c[np.argmax(xn @ cn.T, axis=1)]
    d = x.shape[1]
    if d % m != 0:
        raise ValueError(f"m={m} must divide d={d}")
    cov = np.cov((x - x.mean(axis=0)).T)
    w, u = np.linalg.eigh(cov)          # ascending eigenvalues
    order = np.argsort(w)[::-1]
    w, u = w[order], u[:, order]
    # deterministic signs
    for j in range(d):
        k = int(np.argmax(np.abs(u[:, j])))
        if u[k, j] < 0:
            u[:, j] = -u[:, j]
    sub = d // m
    buckets: list[list[int]] = [[] for _ in range(m)]
    # Boustrophedon (snake) allocation of the DESCENDING spectrum:
    # round r hands eigenvectors to buckets left-to-right, then
    # right-to-left, so every bucket pairs large eigenvalues with
    # small ones — the balanced-product objective met with a rule
    # that is scale- and shift-free (purely positional). The paper's
    # greedy-min-product is scale-DEPENDENT: with every eigenvalue
    # below 1 each assignment makes a bucket's log-product MORE
    # negative, so the fullest bucket keeps attracting — on the
    # anisotropic fixture that packed all 8 strong directions into
    # ONE subspace (measured residual-variance imbalance 63x vs
    # identity's 1.4x) and collapsed recall instead of lifting it.
    # The isotropic r9 null could not see this; the fixture run did.
    for j in range(d):
        rnd, pos = divmod(j, m)
        b = pos if rnd % 2 == 0 else m - 1 - pos
        buckets[b].append(j)
    perm = [j for b in buckets for j in b]
    r_mat = u[:, perm].T               # rows = allocated eigenvectors
    return [[float(v) for v in row] for row in r_mat]


def rotate_vectors(
    df: DataFrame,
    rotation: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Apply an orthonormal rotation to a vector column: one numpy
    matmul per Arrow batch via ``mapInPandas`` (the sanctioned
    vectorized-Python path — an expression-level fold would interpret
    d^2 multiply-adds per row). Schema: (id_col, vec_col) preserved;
    any other columns are dropped (rotate at the waist, join back by
    id if needed)."""
    import pandas as pd  # noqa: F401 - typing of the iterator

    spark = df.sparkSession
    src = df.select(id_col, F.col(vec_col).cast("array<double>").alias(vec_col))
    bc = spark.sparkContext.broadcast(rotation)

    def _rotate(batches):
        import numpy as np
        import pandas as pd

        r = np.array(bc.value)
        for pdf in batches:
            x = np.stack(pdf[vec_col].to_numpy())
            y = x @ r.T
            yield pd.DataFrame(
                {id_col: pdf[id_col], vec_col: list(map(list, y))}
            )

    return src.mapInPandas(_rotate, schema=src.schema)


def refine_centroids(
    train: DataFrame,
    seeds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd refinement of a parameter-bounded seed
    codebook under cosine assignment (k-means with fixed iteration
    count — the public IVF training recipe, unrolled so the DuckDB
    oracle can replay it CTE-for-CTE).

    Each iteration: assign every training vector to its argmax-cosine
    centroid (ties -> smaller id), then replace each centroid with the
    elementwise mean of its members. The mean is the exact-integer
    form ``(sum(floor((x + 1024) * 1e6)) div n - 1024e6) / 1e6``:
    offset keeps terms positive (trunc == floor), integer sums are
    order-independent, and the final division is the same IEEE op on
    both engines. Centroids with no members keep their previous value
    (the empty-cluster rule the oracle mirrors with a left join).

    ``train`` must be a parameter-bounded cohort (the callers cap it,
    e.g. ``vec_id < 2048``): training cost is |cohort| * k per
    iteration and each iteration materializes only the k-row codebook
    on the driver (the repo-allowed parameter-sized collect).

    Returns the refined codebook as a sorted ``[(list_id, vector)]``
    list (driver-side, k rows) — callers lift it back to a DataFrame.
    """
    spark = train.sparkSession
    cur = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in seeds.select(
            F.col(id_col), F.col(vec_col).cast("array<double>")
        ).collect()
    )
    _check_mean_range(train, vec_col, "refine_centroids training cohort")
    t = train.select(F.col(vec_col).cast("array<double>").alias("__v"))
    off = int(_MEAN_OFFSET) * _MEAN_SCALE
    for _ in range(max(0, iters)):
        asg = assign_argmax_cosine(
            t, "__v", local_df(spark, cur, "cid long, ce array<double>")
        )
        rows = (
            asg.select("list_id", F.posexplode("__v").alias("pos", "val"))
            .groupBy("list_id", "pos")
            .agg(
                F.sum(
                    F.floor(
                        (F.col("val") + F.lit(_MEAN_OFFSET))
                        * F.lit(float(_MEAN_SCALE))
                    ).cast("long")
                ).alias("s"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .select(
                "list_id",
                "pos",
                (
                    (F.expr("s div cnt") - F.lit(off))
                    / F.lit(float(_MEAN_SCALE))
                ).alias("mu"),
            )
            .collect()
        )
        means: dict[int, dict[int, float]] = {}
        for r in rows:
            means.setdefault(int(r.list_id), {})[int(r.pos)] = float(r.mu)
        cur = [
            (
                lid,
                [means[lid][p] for p in range(len(old))]
                if lid in means
                else old,
            )
            for lid, old in cur
        ]
    return cur


def pq_train(
    train: DataFrame,
    coarse_seeds: DataFrame,
    cw_seeds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    coarse_iters: int = 2,
    pq_iters: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """Train a residual IVF-PQ codebook pair (coarse centroids + fine
    residual codewords) with fixed-iteration Lloyd refinement — the
    deterministic, oracle-replayable stand-in for FAISS's k-means
    training (sampled seeds + a bounded number of unrolled iterations
    instead of convergence-to-epsilon).

    Stages (all parameter-bounded; ``train`` is the bounded cohort):

    1. ``coarse_iters`` cosine-Lloyd steps refine ``coarse_seeds`` into
       the coarse quantizer (:func:`refine_centroids`). Seed-sample
       centroids are nearly orthogonal to everything in high dim, so
       RAW-sample residuals are LARGER than the vectors themselves
       (measured 1.51x mean |r|^2 on the test corpus); mean-refined
       centroids pull toward the data and shrink residual energy below
       |x|^2 (measured 0.90x) — the refinement is what makes residual
       encoding a win at all on spread-out data.
    2. The fine codebook is seeded with the RESIDUALS of ``cw_seeds``
       (a second sample, disjoint from the coarse seeds: a coarse
       seed's own residual is ~0 and would waste a codeword) and
       refined per SUBSPACE with ``pq_iters`` Lloyd steps under the
       same argmax-score assignment :func:`pq_codes` uses (ties ->
       lower code id), exact-integer means per (code, subspace, pos).

    Measured on the 64-dim test corpus at m=8/k=16 (same budget as the
    flat path): ADC recall@5 0.38 -> 0.44 at 500 vectors and
    0.26 -> 0.40 at 2000 — the fixed flat-PQ quality gap.

    Returns ``(coarse_centroids, codebook_vectors)``: the first is
    (``list_id``, ``vec_col``) for :func:`pq_codes`/:func:`pq_adc_topk`
    ``coarse_centroids=``; the second is (``id_col`` = dense 0..k-1,
    ``vec_col``) residual codewords, subspace slices reassembled into
    full-width vectors so the existing slicing in both consumers works
    unchanged (per-subspace assignment is independent, so gluing is
    lossless).
    """
    spark = train.sparkSession
    d = _probe_dim(coarse_seeds, vec_col)
    # wide=True: training is layout-independent (the pack-width choice
    # happens at pq_codes time, where the single-word cap still
    # applies unless the caller opts into the r13 multi-word layout),
    # so only the structural checks (d % m, k >= 1) gate training.
    _validate_pq_params(d, m, cw_seeds.count(), wide=True)
    sub = d // m
    coarse_rows = refine_centroids(
        train, coarse_seeds, id_col, vec_col, iters=coarse_iters
    )
    coarse = local_df(
        spark, coarse_rows, f"list_id long, {vec_col} array<double>"
    )
    # residual space: both the training cohort and the codeword seeds
    # are re-expressed as x - centroid(argmax-cosine list)
    rtrain = residualize(train, coarse, id_col, vec_col)
    cw_rows = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in residualize(cw_seeds, coarse, id_col, vec_col)
        .select(F.col(id_col), F.col(vec_col))
        .collect()
    )
    # dense code ids 0..k-1 in seed-id order — the same ordering
    # pq_codes derives with its row_number over id_col
    cur = [(i, vec) for i, (_, vec) in enumerate(cw_rows)]

    def _subs(df: DataFrame, ident: str, out_id: str) -> DataFrame:
        vec = F.col(vec_col).cast("array<double>")
        pieces = F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.slice(vec, j * sub + 1, sub),
        )
        return df.select(
            F.col(ident).alias(out_id),
            F.posexplode(pieces).alias("sub_id", "sv"),
        )

    # the coarse pass guarded the raw cohort; the fine Lloyd runs in
    # RESIDUAL space (bounded by |x| + |centroid|), so re-check there
    _check_mean_range(rtrain, vec_col, "pq_train residual cohort")
    rsubs = _subs(rtrain, id_col, "__id")
    off = int(_MEAN_OFFSET) * _MEAN_SCALE
    fold = lambda a, b: F.aggregate(  # noqa: E731 - local fold shape
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    for _ in range(max(0, pq_iters)):
        cw_df = local_df(
            spark,
            [(cid, j, [v[j * sub + p] for p in range(sub)])
             for cid, v in cur for j in range(m)],
            "code_id long, sub_id int, cv array<double>",
        ).withColumn("cn2", fold("cv", "cv"))
        tie = F.struct(F.col("score"), (-F.col("code_id")).alias("nc"))
        asg = (
            rsubs.join(F.broadcast(cw_df), "sub_id")
            .withColumn("score", F.lit(2.0) * fold("sv", "cv") - F.col("cn2"))
            .groupBy("__id", "sub_id")
            .agg(
                F.max_by("code_id", tie).alias("code_id"),
                F.max_by("sv", tie).alias("sv"),
            )
        )
        rows = (
            asg.select(
                "code_id", "sub_id", F.posexplode("sv").alias("pos", "val")
            )
            .groupBy("code_id", "sub_id", "pos")
            .agg(
                F.sum(
                    F.floor(
                        (F.col("val") + F.lit(_MEAN_OFFSET))
                        * F.lit(float(_MEAN_SCALE))
                    ).cast("long")
                ).alias("s"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .select(
                "code_id",
                "sub_id",
                "pos",
                (
                    (F.expr("s div cnt") - F.lit(off))
                    / F.lit(float(_MEAN_SCALE))
                ).alias("mu"),
            )
            .collect()
        )
        means: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            means.setdefault((int(r.code_id), int(r.sub_id)), {})[
                int(r.pos)
            ] = float(r.mu)
        nxt = []
        for cid, old in cur:
            vec = list(old)
            for j in range(m):
                mj = means.get((cid, j))
                if mj is not None:  # empty subspace cluster keeps old slice
                    for p in range(sub):
                        vec[j * sub + p] = mj[p]
            nxt.append((cid, vec))
        cur = nxt
    codebook = local_df(
        spark, cur, f"{id_col} long, {vec_col} array<double>"
    )
    return coarse, codebook


def exact_rerank(
    shortlist: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k_top: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_scale: int = 1_000_000,
) -> DataFrame:
    """Exact squared-L2 re-ranking of an ANN shortlist — the public
    FAISS ``IndexRefineFlat`` pattern: an approximate stage (ADC, LSH,
    IVF) over-fetches ``n > k`` candidates from compressed codes, then
    full-precision vectors are read back for ONLY those candidates and
    re-ranked exactly. Recovers most of the recall the lossy codes
    gave up at a bounded extra cost: |queries| * n vector reads via
    equi-joins (never a corpus scan — measured recall@5 0.44 -> 0.84
    at 500 vectors, 0.40 -> 0.60 at 2000, re-ranking ADC top-32).

    ``shortlist`` is (query_id, neighbor_id); output matches the ADC
    surface: (query_id, neighbor_id, d2_micro, rank) with floor-scaled
    integer distances (exact ranking replay; ties -> lower neighbor).
    """
    fold = lambda a, b: F.aggregate(  # noqa: E731 - local fold shape
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__ce"),
    ).withColumn("__cn2", fold("__ce", "__ce"))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qe"),
    ).withColumn("__qn2", fold("__qe", "__qe"))
    # same expansion shape as the q24/q163 exact legs:
    # (cn2 - 2*dot) + qn2 — never a (a-b)^2 fold, so the oracle's
    # list_dot_product replay is bit-identical
    d2 = (
        F.col("__cn2") - F.lit(2.0) * fold("__qe", "__ce") + F.col("__qn2")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2_micro").asc(), F.col("neighbor_id").asc()
    )
    return (
        shortlist.select("query_id", "neighbor_id")
        .join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "d2_micro",
            F.floor(F.greatest(d2, F.lit(0.0)) * dist_scale).cast("long"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_top)
        .select("query_id", "neighbor_id", "d2_micro", "rank")
    )


def ivf_assignment_stats(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cohort: F.Column | None = None,
) -> DataFrame:
    """Inline per-list balance/distortion report for an IVF assignment
    — the relational (oracle-replayable) sibling of
    :meth:`IvfIndex.drift_report`, computed from corpus + codebook
    without a persisted index.

    Per list: ``n_vectors``, ``occupancy_ppm`` (1e6 * n div total —
    imbalance degrades probe cost and recall-per-nprobe),
    ``avg_cos_ppm`` (mean member-to-centroid cosine as exact scaled
    integers — falling = rising quantization distortion), and, when
    ``cohort`` (a boolean Column marking newly-appended vectors) is
    given, ``new_n`` / ``new_share_ppm``: a list whose cohort share
    deviates strongly from the global share is absorbing the
    distribution shift — the re-cluster signal for append-only
    maintenance, where assignments never go stale but the codebook
    stops matching the data.

    Plan: corpus scan -> :func:`assign_argmax_cosine` (numpy-batched,
    bit-identical to the expression fold) -> one groupBy(list_id).
    Linear in the corpus, O(nlist) per row — which means ``centroids``
    MUST be a parameter-bounded sample (fixed nlist), same contract as
    ``ivf_topk``/``IvfIndex.build``: a codebook derived as a fixed
    FRACTION of the corpus makes the assignment quadratic (n * n/16
    pairs — measured pathological at 60k vectors), exactly the
    degenerate case the q43-family big-SF exclusions document.
    Embeddings must be non-null. Corpus ids must be unique: the report
    counts each corpus ROW, so a duplicated id would count twice —
    checked with one count-vs-distinct aggregate, ``ValueError`` if not.
    """
    dup = corpus.agg(
        F.count(id_col).alias("n"), F.count_distinct(id_col).alias("nd")
    ).first()
    if dup.n != dup.nd:
        raise ValueError(
            f"ivf_assignment_stats: {dup.n - dup.nd} duplicate "
            f"{id_col} values in the corpus; ids must be unique"
        )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        (cohort if cohort is not None else F.lit(False)).alias("is_new"),
    )
    # SPREAD the corpus before the x nlist fan-out: the pass inherits
    # the parquet scan's partition count, and a compact corpus file
    # (sf10: 200k rows in 2 splits) serializes the whole n x nlist
    # assignment onto 2 cores — the measured r10 sf10 cost (134.9 s;
    # repartition to cluster width = 12x on the same pass, SCALING.md
    # round-11 entry)
    assign = assign_argmax_cosine(
        _spread(c), "cv", centroids.select(id_col, vec_col)
    )
    per_list = assign.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        # +1 offset keeps every scaled term in [0, 2e6]: the sum stays
        # positive, so integer `div` (trunc) and DuckDB `//` (floor)
        # agree, and round() is half-away-from-zero == HALF_UP on both
        # engines for positive arguments
        F.sum(
            F.round((F.col("best_cos") + 1) * 1_000_000, 0).cast("long")
        ).alias("__cos_sum"),
        F.sum(F.col("is_new").cast("long")).alias("new_n"),
    )
    # per_list (nlist rows) feeds BOTH the grand total and the output
    # join; un-cut, Catalyst re-runs the corpus x codebook assignment
    # once per consumer (measured 2x wall at sf1.0). Materializing
    # nlist rows is free; lazy so the first consumer's job does it
    # (one fewer driver round-trip per trigger).
    per_list = materialize(per_list, eager=False, label="ivf-per-list")
    total = per_list.agg(F.sum("n_vectors").alias("__n_tot"))
    out = per_list.crossJoin(F.broadcast(total)).select(
        "list_id",
        "n_vectors",
        F.expr("1000000 * n_vectors div __n_tot").alias("occupancy_ppm"),
        (F.expr("__cos_sum div n_vectors") - F.lit(1_000_000)).alias(
            "avg_cos_ppm"
        ),
        "new_n",
        F.expr("1000000 * new_n div n_vectors").alias("new_share_ppm"),
    )
    if cohort is None:
        out = out.drop("new_n", "new_share_ppm")
    return out


def _routed(c: DataFrame, cent: DataFrame) -> DataFrame:
    """(neighbor_id, cv, cn) rows plus their ``list_id``, laid out for
    the partitioned lists write. No spread before the scoring: the
    numpy kernel costs microseconds per row, so the scan's own width is
    enough, and a small batch starts one Python worker, not one per
    core. The REBALANCE by list lets AQE size the write tasks: a list
    is written as a few right-sized files, not one file per scan or
    spread task — fewer files for every later probe to open."""
    return (
        assign_argmax_cosine(c, "cv", cent)
        .drop("best_cos")
        .hint("rebalance", "list_id")
    )


class IvfIndex:
    """Handle to a built index directory (see module docstring)."""

    def __init__(self, path: str, id_col: str = "vec_id", vec_col: str = "embedding"):
        self.path = path.rstrip("/")
        self.id_col = id_col
        self.vec_col = vec_col

    # -- build ------------------------------------------------------------

    @staticmethod
    def build(
        corpus: DataFrame,
        centroids: DataFrame,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IvfIndex":
        """One corpus pass: assign each vector to its argmax-cosine
        list (:func:`assign_argmax_cosine`, ties to the smaller
        centroid id — same rule as ``ivf_topk``), write lists
        partitioned by ``list_id`` with norms precomputed."""
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
        out = path.rstrip("/")
        cent.write.mode("overwrite").parquet(f"{out}/centroids")
        _routed(c, cent).write.partitionBy("list_id").mode(
            "overwrite"
        ).parquet(f"{out}/lists")
        idx = IvfIndex(out, id_col, vec_col)
        idx.refresh_drift_stats(corpus.sparkSession)
        return idx

    # -- incremental maintenance ------------------------------------------

    def append(self, new_vectors: DataFrame) -> None:
        """Route a batch of new vectors into the existing lists: assign
        against the STORED codebook (so earlier assignments stay valid)
        and append to the touched list partitions only — dynamic
        partition overwrite semantics are unnecessary because lists are
        append-only until a full rebuild. The codebook drifts from the
        true corpus distribution as appends accumulate; rebuild when
        recall degrades (the classic IVF maintenance tradeoff)."""
        spark = new_vectors.sparkSession
        cent = spark.read.parquet(f"{self.path}/centroids")
        c = new_vectors.select(
            F.col(self.id_col).alias("neighbor_id"),
            F.col(self.vec_col).alias("cv"),
            norm(self.vec_col).alias("cn"),
        )
        routed = materialize(_routed(c, cent), label="ivf-append-routed")
        routed.write.partitionBy("list_id").mode("append").parquet(
            f"{self.path}/lists"
        )
        # keep the persisted PQ codes in step (O(batch) encode+append);
        # ordering lists-first: a crash here leaves codes SHORT, which
        # probe_adc's row-count guard catches loudly (refresh_pq repairs)
        if self.has_pq():
            self._append_pq(spark, routed)
        # fold the batch's per-list drift partials into the sketch
        # (mergeable: per-list integer sums append; the report sums
        # them). Ordering lists-first: a crash here leaves the sketch
        # short and the row-count guard falls back to the full scan.
        self._write_drift_partial(spark, routed, cent, mode="append")

    # -- drift sketch -------------------------------------------------------

    def _codebook_fingerprint(self, spark: SparkSession) -> int:
        """Order-independent content hash of the stored codebook — the
        sketch validity token: per-list partials are argmax-vs-THIS-
        codebook facts, so any codebook change (recluster, external
        retrain) must invalidate them."""
        cent = spark.read.parquet(f"{self.path}/centroids")
        row = cent.agg(
            F.bit_xor(F.xxhash64(F.struct("cid", "ce", "cen"))).alias("h")
        ).first()
        return int(row.h) if row is not None and row.h is not None else 0

    def _write_drift_partial(
        self,
        spark: SparkSession,
        members: DataFrame,
        cent: DataFrame,
        mode: str,
    ) -> None:
        """One (list_id, n_vectors, cos_sum, codebook_fp) row per
        touched list for ``members`` (cv, cn, list_id rows): the
        member-to-OWN-centroid cosine partials — an O(|members|)
        equi-join against the k-bounded codebook, one dot per row."""
        fp = self._codebook_fingerprint(spark)
        own = members.join(
            F.broadcast(cent), members["list_id"] == cent["cid"]
        ).withColumn("own_cos", paired_cosine("cv", "ce", "cn", "cen"))
        stats = (
            # normalize the key type: `list_id` arrives as LONG from an
            # append's assignment but as INT when re-read through the
            # hive-partitioned lists layout — mixed physical types in
            # one parquet dir break the vectorized reader
            own.groupBy(F.col("list_id").cast("long").alias("list_id"))
            .agg(
                F.count(F.lit(1)).alias("n_vectors"),
                F.sum(
                    F.round((F.col("own_cos") + 1) * 1_000_000, 0).cast("long")
                ).alias("cos_sum"),
            )
            .withColumn("codebook_fp", F.lit(fp))
        )
        stats.write.mode(mode).parquet(f"{self.path}/drift_stats")

    def refresh_drift_stats(self, spark: SparkSession) -> None:
        """(Re)seed the sketch from the persisted lists: one O(index)
        pass with ONE dot per row (own-centroid equi-join, not the
        nlist-wide argmax). Call after build (done automatically) or
        after any codebook change once the lists are consistent."""
        cent = spark.read.parquet(f"{self.path}/centroids")
        lists = spark.read.parquet(f"{self.path}/lists")
        self._write_drift_partial(spark, lists, cent, mode="overwrite")

    def _drift_finish(self, per_list: DataFrame) -> DataFrame:
        """(list_id, n_vectors, __cos_sum, n_misassigned) partials ->
        the report schema (shared by sketch and full-scan paths)."""
        total = per_list.agg(F.sum("n_vectors").alias("__n_tot"))
        return per_list.crossJoin(F.broadcast(total)).select(
            # stable LONG key whichever path produced the partials (the
            # hive-partitioned lists read infers int, appends carry long)
            F.col("list_id").cast("long").alias("list_id"),
            "n_vectors",
            F.expr("1000000 * n_vectors div __n_tot").alias("occupancy_ppm"),
            (F.expr("__cos_sum div n_vectors") - F.lit(1_000_000)).alias(
                "avg_cos_ppm"
            ),
            "n_misassigned",
        )

    def _drift_report_from_sketch(
        self, spark: SparkSession, lists: DataFrame
    ) -> DataFrame | None:
        """The sketch fast path, or None when the sketch can't prove
        itself current (missing, foreign codebook_fp, or row total !=
        lists row count)."""
        try:
            sk = spark.read.parquet(f"{self.path}/drift_stats")
        except Exception:
            return None
        fps = [r.codebook_fp for r in sk.select("codebook_fp").distinct().collect()]
        if len(fps) != 1 or fps[0] != self._codebook_fingerprint(spark):
            return None
        # row-count guard: parquet metadata count on both sides — a
        # crash between the lists append and the sketch append leaves
        # the sketch short; fall back rather than under-report
        per_list = materialize(
            sk.groupBy("list_id").agg(
                F.sum("n_vectors").alias("n_vectors"),
                F.sum("cos_sum").alias("__cos_sum"),
            ),
            label="drift-sketch",
        )
        sk_total = per_list.agg(F.sum("n_vectors").alias("n")).first().n
        if sk_total != lists.count():
            return None
        return self._drift_finish(
            per_list.withColumn("n_misassigned", F.lit(0).cast("long"))
        )

    # -- maintenance diagnostics -------------------------------------------

    def drift_report(self, spark: SparkSession) -> DataFrame:
        """Per-list index-health report — the signal that says when to
        re-cluster (a 100 TB corpus's index is MAINTAINED, not rebuilt
        per batch; the operational question is when maintenance is no
        longer enough).

        One pass over the persisted lists with the (k-bounded,
        broadcast) codebook:

        * ``n_vectors`` / ``occupancy_ppm`` — list sizes. Appends that
          follow a shifted data distribution bloat a few lists;
          occupancy imbalance directly degrades probe cost (a probed
          hot list scans more vectors) and recall-per-nprobe.
        * ``avg_cos_ppm`` — mean cosine of members to their OWN list
          centroid (sum of 6-dp-rounded cosines as exact integers,
          ``div`` count: order-independent, engine-portable). Falling
          avg_cos = rising quantization distortion: new vectors far
          from every existing centroid.
        * ``n_misassigned`` — members whose argmax-cosine centroid (by
          the CURRENT stored codebook, ties to smaller cid) is not the
          list they live in. Zero right after build/append against the
          same codebook; nonzero means the codebook changed under the
          lists (external re-train, partial rebuild) and probes are
          losing recall NOW — re-cluster.

        Plan, fast path: the per-list drift SKETCH maintained at
        build/append time (``drift_stats``: mergeable integer partials
        of the own-centroid cosine) makes this a |partials|-row scan
        plus a metadata row count — O(lists), no corpus pass. Valid
        only while every partial's ``codebook_fp`` matches the current
        codebook (then assignments are argmax-by-construction and
        ``n_misassigned`` is provably 0) and the partials' row total
        equals the lists' (a torn append leaves the sketch short).
        Otherwise — recluster, external retrain, torn write — the full
        scan below answers: lists scan -> :func:`assign_argmax_cosine`
        against the stored codebook (nlist rows, an algorithm
        parameter) for ``best_cid`` -> a left broadcast equi-join to the
        member's own centroid for ``own_cos`` -> one groupBy(list_id).
        No corpus self-join, no corpus collect.
        """
        cent = spark.read.parquet(f"{self.path}/centroids")
        lists = spark.read.parquet(f"{self.path}/lists")
        fast = self._drift_report_from_sketch(spark, lists)
        if fast is not None:
            return fast
        best = assign_argmax_cosine(
            _spread(lists.withColumnRenamed("list_id", "__own")), "cv", cent
        ).select(
            "cv", "cn", "__own", F.col("list_id").alias("best_cid")
        )
        # cosine to the list the vector actually lives in: a LEFT join,
        # so a list whose id is absent from the stored codebook (the
        # external-retrain case this report exists to catch) gets a
        # deterministic NULL own_cos rather than some centroid's cosine
        own = best.join(
            F.broadcast(cent), best["__own"] == cent["cid"], "left"
        ).select(
            F.col("__own").alias("list_id"),
            "best_cid",
            F.when(
                F.col("cid").isNotNull(),
                paired_cosine("cv", "ce", "cn", "cen"),
            ).alias("own_cos"),
        )
        per_list = own.groupBy("list_id").agg(
            F.count(F.lit(1)).alias("n_vectors"),
            # ppm-scaled BEFORE summing: exact integer running sum,
            # order-independent — the repo's float-aggregation rule;
            # +1 offset keeps terms positive (div == floor-div)
            F.sum(
                F.round((F.col("own_cos") + 1) * 1_000_000, 0).cast("long")
            ).alias("__cos_sum"),
            F.sum(
                (F.col("best_cid") != F.col("list_id")).cast("long")
            ).alias("n_misassigned"),
        )
        return self._drift_finish(per_list)

    # -- maintenance: partial re-cluster ------------------------------------

    def recluster(
        self,
        spark: SparkSession,
        list_ids: list[int] | None = None,
        occupancy_ppm: int | None = None,
        iters: int = 2,
    ) -> dict:
        """Close the drift loop: detect -> partial re-train -> re-assign
        -> (caller re-measures recall). The compaction-loop mirror for
        the vector index: :meth:`drift_report` is the signal, this is
        the repair, and only the DRIFTED REGION pays — a 100 TB index
        is maintained in place, never rebuilt per batch.

        Selection: explicit ``list_ids``, else every list the report
        flags — ``occupancy_ppm`` above the threshold (appends
        following a shifted distribution bloat a few lists) or any
        ``n_misassigned`` member (codebook changed under the lists).

        Repair, touching ONLY the selected lists' partitions:

        1. re-train the selected lists' centroids on their own members
           (:func:`refine_centroids`, seeds = the stored centroids, so
           an un-drifted selected list converges back to itself);
        2. re-assign those members among the FULL updated codebook
           (re-trained + unchanged centroids — so a bloated list can
           evacuate toward untouched neighbors and a misassigned
           member lands where probes will look for it; members of
           untouched lists stay put — their centroid didn't move);
        3. rewrite the selected list partitions (dynamic partition
           overwrite; a selected list left empty is removed); members
           that moved to an UNTOUCHED list are appended to its
           partition — never overwritten, those partitions were not
           fully read; swap the updated k-row codebook in whole
           (parameter-bounded).

        Cost: one partition-pruned scan of the selected lists per
        Lloyd iteration plus one rewrite of those partitions —
        O(drifted region), not O(index). Returns
        ``{"lists_selected": n, "members": n, "moved": n}`` where
        ``moved`` counts members whose list changed — the loop-closure
        number the test asserts drops to 0 on a second pass.
        """
        cent_all = spark.read.parquet(f"{self.path}/centroids")
        if list_ids is None:
            rep = self.drift_report(spark)
            cond = F.col("n_misassigned") > 0
            if occupancy_ppm is not None:
                cond = cond | (F.col("occupancy_ppm") > occupancy_ppm)
            list_ids = sorted(
                int(r.list_id) for r in rep.filter(cond).select("list_id").collect()
            )
        if not list_ids:
            return {"lists_selected": 0, "members": 0, "moved": 0}
        lists_path = f"{self.path}/lists"
        members = spark.read.parquet(lists_path).filter(
            F.col("list_id").isin(list_ids)
        )
        seeds = cent_all.filter(F.col("cid").isin(list_ids)).select(
            F.col("cid").alias(self.id_col), F.col("ce").alias(self.vec_col)
        )
        # one row per MEMBER (not member × old_list): copies of one
        # vector across several selected lists — the transient state a
        # crash between this method's two writes leaves behind —
        # collapse before training and re-assignment, so a recluster
        # that selects the duplicate-holding lists is the dedup repair.
        # old_list survives as min() purely for the `moved` stat.
        unique = (
            members.groupBy("neighbor_id", "cv", "cn")
            .agg(F.min("list_id").alias("old_list"))
        )
        train = unique.select(
            F.col("neighbor_id").alias(self.id_col),
            F.col("cv").alias(self.vec_col),
        )
        refined = refine_centroids(
            train, seeds, self.id_col, self.vec_col, iters=iters
        )
        new_cent = local_df(
            spark, refined, "cid long, ce array<double>"
        ).withColumn("cen", norm("ce"))
        # the updated codebook: re-trained centroids for the selected
        # lists, stored centroids for the rest — nlist rows, collected
        # once (parameter-bounded) so the swap below never reads the
        # path it is about to overwrite
        updated_rows = (
            cent_all.filter(~F.col("cid").isin(list_ids))
            .unionByName(new_cent)
            .collect()
        )
        full_cent = local_df(
            spark, updated_rows, "cid long, ce array<double>, cen double"
        )
        # re-assign the touched members among the FULL updated codebook
        reassigned = materialize(
            assign_argmax_cosine(unique, "cv", full_cent).drop("best_cos"),
            label="recluster-assign",
        )
        stats = reassigned.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("list_id") != F.col("old_list")).cast("long")).alias(
                "moved"
            ),
        ).first()
        sel = set(int(x) for x in list_ids)
        stay = reassigned.filter(F.col("list_id").isin(list_ids))
        leave = reassigned.filter(~F.col("list_id").isin(list_ids))
        # WRITE ORDER is the crash contract: the two writes commit
        # independently, so the failure window between them must leave
        # transient DUPLICATES (an evacuee present in both its old
        # selected partition and its new home — probe sees it twice
        # until repair), never LOSS (the old two-step overwrote the
        # selected partitions first; a crash then dropped every not-
        # yet-appended evacuee from the index permanently and
        # silently). Re-running the same recluster IS the repair: the
        # anti-join below makes the append idempotent (evacuees already
        # sitting in their target partition are not appended twice) and
        # the overwrite then clears the stale copies from the selected
        # lists. Cost of the idempotence: one partition-pruned read of
        # the target lists — O(evacuation region), not O(index).
        # 1) APPEND evacuees to their untouched target lists (those
        #    partitions were not read, overwrite would drop them)
        target_ids = sorted(
            int(r.list_id) for r in leave.select("list_id").distinct().collect()
        )
        if target_ids:
            already = (
                spark.read.parquet(lists_path)
                .filter(F.col("list_id").isin(target_ids))
                .select("neighbor_id", "list_id")
            )
            # materialize: the anti-join plan reads the very path the
            # append writes — cut lineage so the write can't race its
            # own input
            leave_new = materialize(
                leave.join(already, ["neighbor_id", "list_id"], "left_anti"),
                label="recluster-leave",
            )
            leave_new.select("neighbor_id", "cv", "cn", "list_id").write.partitionBy(
                "list_id"
            ).mode("append").parquet(lists_path)
        prev = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            # 2) selected partitions were fully read (and `reassigned`
            #    is materialized, so this does not re-read the path) ->
            #    full rewrite removes the evacuees from their old lists
            stay.select("neighbor_id", "cv", "cn", "list_id").write.partitionBy(
                "list_id"
            ).mode("overwrite").parquet(lists_path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        # a selected list that ended up EMPTY is not in the rewrite, so
        # dynamic overwrite left its stale partition behind — drop it
        kept = {
            int(r.list_id)
            for r in stay.select("list_id").distinct().collect()
        }
        import shutil as _sh
        from pathlib import Path as _P

        for lid in sel - kept:
            _sh.rmtree(_P(lists_path) / f"list_id={lid}", ignore_errors=True)
        full_cent.write.mode("overwrite").parquet(f"{self.path}/centroids")
        # the codebook changed: every drift-sketch partial is stale
        # (argmax-vs-OLD-codebook facts). Drop the sketch — the fp
        # guard would fall back anyway, this just stops the stale file
        # from growing; refresh_drift_stats() re-seeds when wanted.
        # Deletion is crash-safe at any point (absence => full scan).
        _sh.rmtree(_P(self.path) / "drift_stats", ignore_errors=True)
        # both directories changed under any cached file listings —
        # invalidate so a follow-up drift_report/probe re-lists
        spark.catalog.refreshByPath(lists_path)
        spark.catalog.refreshByPath(f"{self.path}/centroids")
        if self.has_pq():
            # the coarse codebook changed, so residual codes in the
            # REWRITTEN region are stale: re-encode exactly the affected
            # partitions (selected lists that survived + the untouched
            # lists that received evacuees — untouched members elsewhere
            # kept both their centroid and their assignment, their codes
            # stand). The meta fp update is LAST: a crash anywhere in
            # this block leaves a stale fingerprint and probe_adc
            # refuses loudly until refresh_pq.
            meta = self._pq_meta()
            affected = sorted(kept | set(target_ids))
            if affected:
                prev_mode = spark.conf.get(
                    "spark.sql.sources.partitionOverwriteMode", "static"
                )
                spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", "dynamic"
                )
                try:
                    self._encode_lists(
                        spark, int(meta["m"]), list_ids=affected,
                        wide=bool(meta.get("wide", False)),
                    ).write.partitionBy("list_id").mode("overwrite").parquet(
                        f"{self.path}/pq_codes"
                    )
                finally:
                    spark.conf.set(
                        "spark.sql.sources.partitionOverwriteMode", prev_mode
                    )
            for lid in sel - kept:
                _sh.rmtree(
                    _P(f"{self.path}/pq_codes") / f"list_id={lid}",
                    ignore_errors=True,
                )
            self._write_pq_meta(
                spark, int(meta["m"]), wide=bool(meta.get("wide", False))
            )
            spark.catalog.refreshByPath(f"{self.path}/pq_codes")
        return {
            "lists_selected": len(list_ids),
            "members": int(stats.n) if stats else 0,
            "moved": int(stats.moved) if stats and stats.moved is not None else 0,
        }

    # -- probe ------------------------------------------------------------

    def probe(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 4,
    ) -> DataFrame:
        """Top-k per query over the union of each query's ``nprobe``
        nearest lists. The probed list ids (a driver-side set bounded
        by nlist, NOT by corpus size) become an ``isin`` filter, which
        partition-prunes the lists scan; the per-query restriction is
        the (query_id, list_id) equi-join. Output matches
        ``cosine_topk``: (query_id, neighbor_id, cosine, rank)."""
        cent = spark.read.parquet(f"{self.path}/centroids")
        q = queries.select(
            F.col(self.id_col).alias("query_id"),
            F.col(self.vec_col).alias("qv"),
            norm(self.vec_col).alias("qn"),
        )
        wp = Window.partitionBy("query_id").orderBy(
            F.col("cos_c").desc(), F.col("cid")
        )
        probes = (
            q.crossJoin(F.broadcast(cent))
            .withColumn("cos_c", paired_cosine("qv", "ce", "qn", "cen"))
            .withColumn("pr", F.row_number().over(wp))
            .filter(F.col("pr") <= nprobe)
            .select("query_id", "qv", "qn", F.col("cid").alias("list_id"))
        )
        probed_lists = sorted({r.list_id for r in probes.select("list_id").distinct().collect()})
        lists = spark.read.parquet(f"{self.path}/lists").filter(
            F.col("list_id").isin(probed_lists)
        )
        wk = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
        return (
            probes.join(lists, "list_id")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn(
                "cosine", F.round(paired_cosine("qv", "cv", "qn", "cn"), 6)
            )
            .withColumn("rank", F.row_number().over(wk))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank")
        )

    # -- persisted PQ codes: the stored residual IVF-PQ serving path --------
    #
    # VERDICT r11 ask #5: q164 recomputes residual codes inline per
    # query batch; a serving index stores them ONCE, partitioned by
    # list_id alongside the full-precision lists, so the ADC probe is
    # a partition-pruned scan of 8-byte codes. Layout additions:
    #
    #     <path>/pq_codebook/           -- residual fine codebook (k rows)
    #     <path>/pq_codes/list_id=<n>/  -- (vec_id, pq_code, err_micro)
    #     <path>/pq_meta.json           -- {"m", "coarse_fp"}
    #
    # Consistency contract: codes are valid only for the coarse
    # codebook they were encoded against — pq_meta pins that codebook's
    # fingerprint, build/append/recluster keep codes in step, and
    # probe_adc refuses a stale or torn code table loudly
    # (refresh_pq() is the repair). Encoding uses each row's STORED
    # list assignment (equi-join residual), which equals pq_codes'
    # argmax residual mode by construction — every assignment path
    # (build, append, recluster) is the same argmax-vs-codebook rule.

    def _pq_meta_path(self):
        from pathlib import Path as _P

        return _P(self.path) / "pq_meta.json"

    def has_pq(self) -> bool:
        return self._pq_meta_path().exists()

    def _pq_meta(self) -> dict:
        import json as _json

        try:
            return _json.loads(self._pq_meta_path().read_text())
        except FileNotFoundError:
            raise ValueError(
                f"index at {self.path} has no persisted PQ codes; run "
                "build_pq(spark, codebook_vectors, m) first"
            ) from None

    def _write_pq_meta(
        self, spark: SparkSession, m: int, wide: bool = False
    ) -> None:
        import json as _json

        self._pq_meta_path().write_text(
            _json.dumps(
                {
                    "m": int(m),
                    "wide": bool(wide),
                    "coarse_fp": self._codebook_fingerprint(spark),
                }
            )
        )

    def _encode_lists(
        self,
        spark: SparkSession,
        m: int,
        list_ids: list[int] | None = None,
        wide: bool = False,
    ) -> DataFrame:
        """Residual-encode stored list rows against the CURRENT
        codebooks: residual = cv - centroid(STORED list_id) via a
        broadcast equi-join (never a second argmax — the stored
        assignment IS the argmax by construction, so these codes match
        ``pq_codes(..., coarse_centroids=...)`` pair-for-pair)."""
        cb = spark.read.parquet(f"{self.path}/pq_codebook")
        cent = spark.read.parquet(f"{self.path}/centroids")
        lists = spark.read.parquet(f"{self.path}/lists")
        if list_ids is not None:
            lists = lists.filter(
                F.col("list_id").isin([int(x) for x in list_ids])
            )
        spread = _spread(lists)
        resid = spread.join(
            F.broadcast(cent), spread["list_id"] == cent["cid"]
        ).select(
            F.col("neighbor_id").alias(self.id_col),
            F.col("list_id").cast("long").alias("list_id"),
            F.zip_with(
                F.col("cv").cast("array<double>"),
                F.col("ce").cast("array<double>"),
                lambda a, b: a - b,
            ).alias(self.vec_col),
        )
        flat = pq_codes(
            resid, cb, id_col=self.id_col, vec_col=self.vec_col, m=m,
            wide=wide,
        )
        return flat.join(resid.select(self.id_col, "list_id"), self.id_col)

    def build_pq(
        self,
        spark: SparkSession,
        codebook_vectors: DataFrame,
        m: int = 8,
        wide: bool | None = None,
    ) -> None:
        """Encode the whole stored index with a residual fine codebook
        (one partition-parallel pass) and persist codebook + codes.
        The meta file is written LAST — it is the commit point; a crash
        before it leaves has_pq() false and nothing half-served.

        ``wide`` (default auto, see :func:`pq_codes`): the multi-word
        ``array<bigint>`` code layout for m·bits > 63 — the corpus-
        capacity knob; the stored layout is pinned in pq_meta so every
        later encode (refresh/append/recluster) packs identically."""
        k = codebook_vectors.count()
        if wide is None:
            wide = m * max(1, (int(k) - 1).bit_length()) > 63
        codebook_vectors.select(self.id_col, self.vec_col).write.mode(
            "overwrite"
        ).parquet(f"{self.path}/pq_codebook")
        self._encode_lists(spark, m, wide=wide).write.partitionBy(
            "list_id"
        ).mode("overwrite").parquet(f"{self.path}/pq_codes")
        self._write_pq_meta(spark, m, wide=wide)

    def refresh_pq(self, spark: SparkSession) -> None:
        """Full re-encode against the current codebooks — the repair
        for any torn/stale state probe_adc refuses."""
        meta = self._pq_meta()
        self._encode_lists(
            spark, int(meta["m"]), wide=bool(meta.get("wide", False))
        ).write.partitionBy("list_id").mode("overwrite").parquet(
            f"{self.path}/pq_codes"
        )
        self._write_pq_meta(
            spark, int(meta["m"]), wide=bool(meta.get("wide", False))
        )
        spark.catalog.refreshByPath(f"{self.path}/pq_codes")

    def _append_pq(self, spark: SparkSession, routed: DataFrame) -> None:
        """Encode one routed append batch (neighbor_id, cv, cn,
        list_id) and append to the code partitions — O(batch)."""
        meta = self._pq_meta()
        cb = spark.read.parquet(f"{self.path}/pq_codebook")
        cent = spark.read.parquet(f"{self.path}/centroids")
        resid = routed.join(
            F.broadcast(cent), routed["list_id"] == cent["cid"]
        ).select(
            F.col("neighbor_id").alias(self.id_col),
            F.col("list_id").cast("long").alias("list_id"),
            F.zip_with(
                F.col("cv").cast("array<double>"),
                F.col("ce").cast("array<double>"),
                lambda a, b: a - b,
            ).alias(self.vec_col),
        )
        flat = pq_codes(
            resid, cb, id_col=self.id_col, vec_col=self.vec_col,
            m=int(meta["m"]), wide=bool(meta.get("wide", False)),
        )
        flat.join(resid.select(self.id_col, "list_id"), self.id_col).write.partitionBy(
            "list_id"
        ).mode("append").parquet(f"{self.path}/pq_codes")

    def probe_adc(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k_top: int = 5,
        nprobe: int = 4,
    ) -> DataFrame:
        """Residual-ADC top-k off the STORED codes: coarse routing
        picks each query's nprobe lists (broadcast codebook, nlist-
        bounded), the probed lists' code partitions are the only scan
        (``PartitionFilters: list_id IN (...)``), and scoring is
        :func:`pq_adc_topk` in residual candidate mode — |candidates|*m
        LUT hits over 8-byte codes, the corpus vectors never read.

        Refuses loudly when the codes can't be trusted: coarse
        codebook changed since encoding (fingerprint pin) or the code
        table is torn (code rows != list rows — a crash between the
        lists append and the code append). The torn check is
        PARTITION-PRUNED: it counts only the probed ``list_id``
        partitions of both tables (r12 counted the WHOLE index per
        probe — O(full file listing + footer reads) on the hot serving
        path). A tear confined to an unprobed list surfaces the first
        time that list is probed; ``refresh_pq`` repairs either way.
        """
        meta = self._pq_meta()
        if int(meta["coarse_fp"]) != self._codebook_fingerprint(spark):
            raise ValueError(
                f"PQ codes at {self.path}/pq_codes were encoded against "
                "a different coarse codebook (recluster/retrain crashed "
                "before re-encoding?); residual ADC would be silently "
                "wrong. Run refresh_pq(spark)."
            )
        codes_all = spark.read.parquet(f"{self.path}/pq_codes")
        cent = spark.read.parquet(f"{self.path}/centroids")
        q = queries.select(
            F.col(self.id_col).alias("query_id"),
            F.col(self.vec_col).alias("qv"),
            norm(self.vec_col).alias("qn"),
        )
        wp = Window.partitionBy("query_id").orderBy(
            F.col("cos_c").desc(), F.col("cid")
        )
        probes = (
            q.crossJoin(F.broadcast(cent))
            .withColumn("cos_c", paired_cosine("qv", "ce", "qn", "cen"))
            .withColumn("pr", F.row_number().over(wp))
            .filter(F.col("pr") <= nprobe)
            .select("query_id", F.col("cid").alias("list_id"))
        )
        probed = sorted(
            int(r.list_id)
            for r in probes.select("list_id").distinct().collect()
        )
        codes = codes_all.filter(F.col("list_id").isin(probed)).withColumn(
            "list_id", F.col("list_id").cast("long")
        )
        lists_n = (
            spark.read.parquet(f"{self.path}/lists")
            .filter(F.col("list_id").isin(probed))
            .count()
        )
        codes_n = codes.count()
        if lists_n != codes_n:
            raise ValueError(
                f"PQ code table is torn in the probed lists {probed}: "
                f"{codes_n} codes vs {lists_n} list rows (crash between "
                "the lists write and the code write?). Run "
                "refresh_pq(spark)."
            )
        cand = probes.join(
            codes.select(F.col(self.id_col).alias("neighbor_id"), "list_id"),
            "list_id",
        ).filter(F.col("query_id") != F.col("neighbor_id"))
        cb = spark.read.parquet(f"{self.path}/pq_codebook")
        coarse = cent.select(
            F.col("cid").alias("list_id"), F.col("ce").alias(self.vec_col)
        )
        return pq_adc_topk(
            codes,
            queries,
            cb,
            id_col=self.id_col,
            vec_col=self.vec_col,
            m=int(meta["m"]),
            k_top=k_top,
            candidates=cand,
            coarse_centroids=coarse,
        )


def pq_codes(
    corpus: DataFrame,
    codebook_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    err_scale: int = 1_000_000,
    coarse_centroids: DataFrame | None = None,
    wide: bool | None = None,
) -> DataFrame:
    """Product-quantization codes (Jégou et al. TPAMI'11, public
    method): split every vector into ``m`` contiguous subvectors and
    replace each with the id of its nearest codeword in that
    subspace's codebook — the fine-compression half of the FAISS-style
    ANN stack (IVF = coarse routing, PQ = residual bytes). With k
    codewords per subspace a d-dim float64 vector becomes m·log2(k)
    bits: 64 dims / 512 bytes -> 32 bits here (m=8, k=16).

    The codebooks are the ``m`` subvector slices of
    ``codebook_vectors`` — a PARAMETER-bounded relation (k rows,
    same contract as ``ivf_topk``'s centroids: ARCHITECTURE rule 13).
    Assignment minimizes the exact squared L2 distance; since |x|² is
    constant per (vector, subspace), the argmin is computed as argmax
    of ``2·x·c − |c|²`` with every dot/norm the sequential-fold shape
    the DuckDB oracle replays bit-for-bit (ties -> lower code_id).

    Plan: one explode to (vector, subspace) rows — m rows per vector —
    a broadcast join against the m·k-row codebook, per-(id, subspace)
    ``max_by`` aggregate (rule 1: aggregate, not window), and one
    groupBy(id) that packs the code. Linear in n·m·k; no pair joins,
    no corpus shuffle beyond the two keyed aggregates.

    Output: ``id_col``, ``pq_code`` (codes packed little-endian,
    ceil(log2(k)) bits per subspace), ``err_micro`` (total squared
    reconstruction error across subspaces, floor-scaled integers —
    the distortion number a re-train decision reads).

    With ``coarse_centroids`` (a (``list_id``, ``vec_col``) relation,
    e.g. :func:`pq_train`'s first output), codes are computed over the
    RESIDUALS ``x - centroid(argmax-cosine list)`` instead of raw
    vectors (:func:`residualize`) and the output additionally carries
    ``list_id`` — the FAISS-style IVF-PQ encoding, where the fine
    codebook only has to cover the residual energy. The codebook must
    then live in residual space too (:func:`pq_train`'s second output).

    ``wide`` picks the packed layout: ``False`` = one BIGINT
    ``pq_code`` (requires m·bits <= 63), ``True`` = ``array<bigint>``
    words under the SAME ``pq_code`` column name — ``63 // bits``
    whole codes per word, little-endian within and across words, bit
    63 never used (see ``_pq_words_layout``) — so m·bits can scale
    with the corpus (the PQ curve's capacity finding: recall at fixed
    bits decays as the corpus grows; m=16/k=128 = 112 bits needs two
    words). ``None`` (default) auto-selects: single-word when it
    fits, wide otherwise. Downstream (:func:`pq_adc_topk`,
    ``IvfIndex``) detects the layout from the column TYPE, so the
    choice is stamped into the data, never carried out-of-band.
    """
    # k is read off the codebook ONCE (parameter-bounded relation, so
    # the driver count is O(k)); it only sizes the per-subspace bit
    # width of the packed code. Codeword ids are remapped to a DENSE
    # 0..k-1 range (rank by source id) so the bit packing can't alias;
    # the single-partition rank window is over k rows — bounded by the
    # parameter, never the data.
    k = codebook_vectors.count()
    if wide is None:
        wide = m * max(1, (int(k) - 1).bit_length()) > 63
    bits = _validate_pq_params(
        _probe_dim(codebook_vectors, vec_col), m, k, wide=wide
    )
    carry: list[str] = []
    if coarse_centroids is not None:
        corpus = residualize(corpus, coarse_centroids, id_col, vec_col)
        carry = ["list_id"]
    wcb = Window.orderBy(F.col(id_col))
    codebook_dense = codebook_vectors.select(
        (F.row_number().over(wcb) - 1).alias("__dense"), F.col(vec_col)
    )

    def sub_rows(
        df: DataFrame, ident, out_id: str, carry_cols: list[str] = []
    ) -> DataFrame:
        vec = F.col(vec_col).cast("array<double>")
        subs = F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.slice(
                vec, (j * (F.size(vec) / m).cast("int")) + 1,
                (F.size(vec) / m).cast("int"),
            ),
        )
        return df.select(
            F.col(ident).alias(out_id),
            *[F.col(c) for c in carry_cols],
            F.posexplode(subs).alias("sub_id", "sv"),
        )

    cw = sub_rows(codebook_dense, "__dense", "code_id").select(
        "code_id",
        "sub_id",
        F.col("sv").alias("cv"),
        F.aggregate(
            F.zip_with(F.col("sv"), F.col("sv"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("cn2"),
    )
    xs = sub_rows(corpus, id_col, "id", carry_cols=carry).withColumn(
        "xn2",
        F.aggregate(
            F.zip_with(F.col("sv"), F.col("sv"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    dot = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cv"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = xs.join(F.broadcast(cw), "sub_id").select(
        "id",
        *carry,
        "sub_id",
        "code_id",
        (F.lit(2.0) * dot - F.col("cn2")).alias("score"),
        # squared L2 to this codeword; floor-scaled AFTER the winner is
        # chosen so the integer never decides the argmax
        (F.col("xn2") - F.lit(2.0) * dot + F.col("cn2")).alias("e2"),
    )
    best = scored.groupBy("id", *carry, "sub_id").agg(
        F.max_by(
            "code_id", F.struct(F.col("score"), (-F.col("code_id")).alias("nc"))
        ).alias("code_id"),
        F.max_by(
            "e2", F.struct(F.col("score"), (-F.col("code_id")).alias("nc"))
        ).alias("e2"),
    )
    err_agg = F.sum(
        F.floor(F.greatest(F.col("e2"), F.lit(0.0)) * err_scale).cast("long")
    ).alias("err_micro")
    if not wide:
        return (
            best.groupBy("id", *carry)
            .agg(
                F.sum(
                    F.expr(
                        f"shiftleft(CAST(code_id AS BIGINT), sub_id * {bits})"
                    )
                ).alias("pq_code"),
                err_agg,
            )
            .select(F.col("id").alias(id_col), *carry, "pq_code", "err_micro")
        )
    # wide layout: n_words per-word conditional sums inside the SAME
    # single groupBy (n_words is a driver-side constant, so this adds
    # agg expressions, not shuffles), assembled into one array column.
    # Each word's codes shift by (sub_id - word_base)*bits < 63, and
    # sub_ids outside the word contribute 0 — word w is exactly the
    # little-endian pack of its own code slice.
    cpw, n_words = _pq_words_layout(m, bits)
    word_sums = [
        F.sum(
            F.when(
                (F.col("sub_id") >= w * cpw) & (F.col("sub_id") < (w + 1) * cpw),
                F.expr(
                    f"shiftleft(CAST(code_id AS BIGINT), "
                    f"(sub_id - {w * cpw}) * {bits})"
                ),
            ).otherwise(F.lit(0).cast("long"))
        ).alias(f"__w{w}")
        for w in range(n_words)
    ]
    return (
        best.groupBy("id", *carry)
        .agg(*word_sums, err_agg)
        .select(
            F.col("id").alias(id_col),
            *carry,
            F.array(*[F.col(f"__w{w}") for w in range(n_words)]).alias(
                "pq_code"
            ),
            "err_micro",
        )
    )


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebook_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_top: int = 5,
    code_col: str = "pq_code",
    dist_scale: int = 1_000_000,
    candidates: DataFrame | None = None,
    coarse_centroids: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes (Jégou TPAMI'11):
    the query stays full-precision, every corpus vector is its packed
    :func:`pq_codes` code, and distance is the sum over subspaces of a
    precomputed (query, subspace, codeword) lookup table — the serving
    path where a 100 TB corpus is scanned as 4-byte codes instead of
    512-byte vectors.

    The LUT is |queries|·m·k rows (all parameter-bounded), broadcast;
    the corpus side explodes each code into its m (subspace, codeword)
    entries with shift/mask expressions — never re-reading vectors —
    then one groupBy(query, id) sums the m table hits and a rank
    window keeps ``k_top``. Distances are floor-scaled integers
    (exact long sums), so ranking and values replay bit-for-bit in
    the oracle (ties -> lower corpus id).

    Output: ``query_id``, ``neighbor_id``, ``adc_micro`` (approximate
    squared L2, floor-micro), ``rank``.

    With ``coarse_centroids``, distances are residual-space ADC
    (Jégou TPAMI'11 §III.C): ``codes`` must carry the ``list_id``
    column :func:`pq_codes` emits in residual mode, the codebook is
    the residual codebook, and the LUT key grows to (query, list,
    subspace, codeword) with the query re-expressed per list as
    ``q - centroid(list)``. The LUT is |queries| * nlist * m * k rows
    — every factor an algorithm parameter (rule 13: nlist is a capped
    codebook, never a corpus fraction), so it stays broadcast-shaped;
    a serving deployment with a huge nlist would restrict the
    query-residual build to the probed lists, which ``candidates``
    already bounds on the scoring side.
    """
    if coarse_centroids is None and "list_id" in codes.columns:
        # Residual-encoded codes (pq_codes' residual mode stamps
        # list_id) scored against a flat LUT would be silently wrong —
        # the converse direction already fails loudly on the missing
        # list_id column, so mirror that here (reject, don't degrade).
        raise ValueError(
            "codes carry list_id (residual-encoded by pq_codes with "
            "coarse_centroids) but pq_adc_topk was called without "
            "coarse_centroids — flat LUT distances would be wrong for "
            "residual codes. Pass the same coarse_centroids used to "
            "encode, or drop('list_id') if the codes are truly flat."
        )
    # layout is stamped into the data: an array-typed code column is
    # the wide multi-word pack, a BIGINT the single-word one
    wide = dict(codes.dtypes).get(code_col, "bigint").startswith("array")
    k = codebook_vectors.count()
    bits = _validate_pq_params(
        _probe_dim(codebook_vectors, vec_col), m, k, wide=wide
    )
    mask = (1 << bits) - 1
    wcb = Window.orderBy(F.col(id_col))
    cb = codebook_vectors.select(
        (F.row_number().over(wcb) - 1).alias("code_id"),
        F.col(vec_col).cast("array<double>").alias("ce"),
    )

    def subs_of(df: DataFrame, ident, out_id: str, out_vec: str) -> DataFrame:
        vec = F.col(vec_col).cast("array<double>")
        pieces = F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.slice(
                vec, (j * (F.size(vec) / m).cast("int")) + 1,
                (F.size(vec) / m).cast("int"),
            ),
        )
        return df.select(
            F.col(ident).alias(out_id),
            F.posexplode(pieces).alias("sub_id", out_vec),
        )

    def fold_dot(a: str, b: str):
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    if coarse_centroids is not None:
        # per-(query, list) residual: q - centroid(list), then the same
        # subspace split — the LUT gains list_id as a key
        cent = coarse_centroids.select(
            F.col("list_id"),
            F.col(vec_col).cast("array<double>").alias("__ce"),
        )
        qr = (
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).cast("array<double>").alias("__qv"),
            )
            .crossJoin(F.broadcast(cent))
            .select(
                "query_id",
                "list_id",
                F.zip_with("__qv", "__ce", lambda a, b: a - b).alias("__r"),
            )
        )
        rpieces = F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.slice(
                F.col("__r"), (j * (F.size("__r") / m).cast("int")) + 1,
                (F.size("__r") / m).cast("int"),
            ),
        )
        qs = qr.select(
            "query_id",
            "list_id",
            F.posexplode(rpieces).alias("sub_id", "qv"),
        ).withColumn("qn2", fold_dot("qv", "qv"))
        lut_cols = ["query_id", "list_id", "sub_id", "code_id"]
    else:
        qs = subs_of(queries, id_col, "query_id", "qv").withColumn(
            "qn2", fold_dot("qv", "qv")
        )
        lut_cols = ["query_id", "sub_id", "code_id"]
    cws = cb.select(
        "code_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice(
                    F.col("ce"), (j * (F.size("ce") / m).cast("int")) + 1,
                    (F.size("ce") / m).cast("int"),
                ),
            )
        ).alias("sub_id", "cv"),
    ).withColumn("cn2", fold_dot("cv", "cv"))
    # expansion form |q|^2 - 2 q.c + |c|^2 — the SAME expression shape
    # the oracle replays (fold-dot contract), unlike a direct
    # (a-b)^2 fold whose different rounding could flip a floor()
    d2 = F.col("qn2") - F.lit(2.0) * fold_dot("qv", "cv") + F.col("cn2")
    # (query[, list], subspace, codeword) -> floor-scaled partial distance
    lut = qs.join(cws, "sub_id").select(
        *[c for c in lut_cols if c != "code_id"],
        "code_id",
        F.floor(F.greatest(d2, F.lit(0.0)) * dist_scale).cast("long").alias(
            "d_micro"
        ),
    )
    # corpus codes -> m (subspace, codeword) rows via shift/mask only;
    # residual mode also carries the list each code was encoded against
    entry_carry = ["list_id"] if coarse_centroids is not None else []
    if wide:
        # multi-word pack: word = sub_id div codes_per_word (codes
        # never straddle words), in-word shift = (sub_id mod cpw)*bits.
        # Words never use bit 63, so shiftrightunsigned == shiftright.
        cpw, _ = _pq_words_layout(m, bits)
        unpack = (
            f"shiftrightunsigned(element_at({code_col}, "
            f"CAST((sub_id div {cpw}) AS INT) + 1), "
            f"(sub_id % {cpw}) * {bits}) & {mask}"
        )
    else:
        unpack = f"shiftrightunsigned({code_col}, sub_id * {bits}) & {mask}"
    entries = codes.select(
        F.col(id_col).alias("neighbor_id"),
        *[F.col(c) for c in entry_carry],
        F.col(code_col),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub_id"),
    ).select(
        "neighbor_id",
        *entry_carry,
        "sub_id",
        F.expr(unpack).alias("code_id"),
    )
    if candidates is not None:
        # IVF-routed mode: score ONLY the (query, neighbor) pairs the
        # coarse quantizer admitted — the candidate relation carries
        # the probe selectivity, so ADC cost is |candidates|·m, not
        # |corpus|·|queries|·m. Equi-joins throughout.
        cand = candidates.select("query_id", "neighbor_id")
        scored = (
            entries.join(cand, "neighbor_id")
            .join(F.broadcast(lut), lut_cols)
            .groupBy("query_id", "neighbor_id")
            .agg(F.sum("d_micro").alias("adc_micro"))
        )
    else:
        scored = (
            entries.join(
                F.broadcast(lut),
                [c for c in lut_cols if c != "query_id"],
            )
            .groupBy("query_id", "neighbor_id")
            .agg(F.sum("d_micro").alias("adc_micro"))
        )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("adc_micro").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= k_top)
        .select("query_id", "neighbor_id", "adc_micro", "rank")
    )
