"""Deterministic hash-based sampling and dataset splits.

Training-data pipelines need REPEATABLE sampling: the same document
must land in the same split on every run, on every engine, regardless
of partitioning — which rules out ``df.sample``/``rand()`` (seeded per
partition, not per row). Everything here derives from a per-row md5
hash of (salt, id):

* md5 is bit-identical in Spark, DuckDB and hashlib, so samples are
  replayable by the oracle and by any downstream system;
* the salt namespaces independent draws (two samples with different
  salts are independent in the Rademacher sense);
* only the LOW 63 BITS are used — the sign bit is masked on the Spark
  (signed long) side so the value equals the unsigned interpretation
  modulo anything that matters.

The per-row bucket is uniform on [0, buckets); sampling keeps rows with
bucket < fraction * buckets, and ``split_assign`` cuts the range into
labeled spans (train/val/test). Pure Column expressions — map-only, no
shuffle, pushdown-friendly.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from db_cdc_poc_spark.checkpointing import materialize
from db_cdc_poc_spark.operators.dedup import token_hash64

#: 2^63 - 1: keeps the md5-derived long non-negative on both engines.
_MASK63 = (1 << 63) - 1

DEFAULT_BUCKETS = 1_000_000


def hash_bucket(
    id_col: str | Column, salt: str = "", buckets: int = DEFAULT_BUCKETS
) -> Column:
    """Uniform deterministic bucket in [0, buckets) from md5(salt:id).

    Oracle equivalent (DuckDB)::

        ('0x' || substr(md5('<salt>:' || CAST(id AS VARCHAR)), 1, 16))::UBIGINT
            & 9223372036854775807) % <buckets>
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = token_hash64(F.concat_ws(":", F.lit(salt), c.cast("string")), "md5")
    return (h.bitwiseAND(F.lit(_MASK63)) % F.lit(buckets)).cast("long")


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates: Mapping[str, float],
    default_rate: float = 0.0,
    salt: str = "",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Deterministic per-stratum sampling — the data-mixture lever of a
    training pipeline (e.g. downsample the dominant language/domain,
    keep 100% of the rare ones).

    Each stratum gets its own keep-rate; a row survives iff its md5
    bucket falls below its stratum's threshold. Strata not listed in
    ``rates`` fall back to ``default_rate`` (0 = drop).

    Because the bucket depends only on (salt, id), the SAME row is kept
    or dropped regardless of which stratum table it is read from, how
    the data is partitioned, or which engine evaluates it — and
    rerunning with a higher rate keeps a superset (nested samples).

    Scale shape: the rate table is compiled into a literal CASE chain —
    pure Column expressions, map-only, whole-stage codegen, no shuffle,
    filter pushdown-eligible. For thousands of strata, swap the CASE
    for a broadcast join against a (stratum, rate) table — same
    semantics, same determinism.
    """
    for name, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {name!r} must be in [0, 1]: {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1]: {default_rate}")
    threshold: Column | None = None
    for name, r in rates.items():
        cond = F.col(stratum_col) == F.lit(name)
        lim = F.lit(int(r * buckets))
        threshold = (
            F.when(cond, lim) if threshold is None else threshold.when(cond, lim)
        )
    default_lim = F.lit(int(default_rate * buckets))
    threshold = (
        default_lim if threshold is None else threshold.otherwise(default_lim)
    )
    return df.filter(hash_bucket(id_col, salt, buckets) < threshold)


def top_k_per_stratum(
    df: DataFrame,
    id_col: str,
    strata_cols: list[str],
    k: int,
    salt: str = "",
    buckets: int = DEFAULT_BUCKETS,
    prefilter_rate: float | None = None,
    rank_col: str = "rk",
) -> DataFrame:
    """Deterministic K-row sample per stratum — "take K docs per
    (lang, source)" for balanced eval sets / capped data mixtures.

    Selection order is the md5 bucket (ties by id), so the chosen K are
    a uniform, engine-replayable draw: re-running, re-partitioning, or
    re-reading from another system picks the SAME rows, and raising
    ``k`` extends the sample instead of reshuffling it.

    Scale shape: the ranking window shuffles by stratum, so a hot
    stratum lands on one reducer. For corpus-scale strata pass
    ``prefilter_rate``: rows above that hash fraction are dropped
    map-side BEFORE the shuffle (the survivors are the bucket-smallest,
    which is exactly what the window keeps, so the result is unchanged
    as long as each stratum retains >= k rows — size the rate as
    k * safety / min_stratum_size). The window then ranks only the
    prefiltered sliver.
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    bucket = hash_bucket(id_col, salt, buckets)
    out = df.withColumn("__b", bucket)
    if prefilter_rate is not None:
        if not 0.0 < prefilter_rate <= 1.0:
            raise ValueError(f"prefilter_rate must be in (0, 1]: {prefilter_rate}")
        out = out.filter(F.col("__b") < int(prefilter_rate * buckets))
    w = Window.partitionBy(*strata_cols).orderBy(F.col("__b"), F.col(id_col))
    return (
        out.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .drop("__b")
    )


def split_assign(
    df: DataFrame,
    id_col: str,
    weights: Mapping[str, float],
    salt: str = "",
    buckets: int = DEFAULT_BUCKETS,
    split_col: str = "split",
) -> DataFrame:
    """Add a ``split`` column assigning each row to one named span
    (e.g. {'train': .8, 'val': .1, 'test': .1}) — disjoint, exhaustive,
    deterministic, engine-replayable. Weights must sum to 1."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    bucket = hash_bucket(id_col, salt, buckets)
    expr: Column | None = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = bucket < int(acc * buckets)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(names[-1])
    return df.withColumn(split_col, out)


def temperature_mix(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    target_rows: int,
    salt: str = "mix",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Temperature-based corpus mixing (T = 0.5): resample strata so the
    output mixture follows p_s ∝ √n_s — the standard flattening that
    upweights small domains without letting one giant crawl dominate a
    training mix.

    The per-stratum row allocation is the WATER-FILLING solution, not
    the naive clamp: ``min(1, target·p_s/n_s)`` silently under-fills
    whenever a small stratum clamps at 1.0 (its unspent share of the
    target just evaporates — hypothesis found the 5-row counterexample
    where ``target ≥ corpus`` still drops rows). Instead the target is
    allocated by :func:`token_budget_fill` with tokens = row counts:
    clamped strata keep everything and their surplus is redistributed
    across the unclamped strata at the exact re-normalized water level
    (the capped set is a prefix of the n_s/w_s ordering, so one window
    pass over the |strata|-row aggregate solves it in closed form).
    ``target ≥ Σn_s`` now provably keeps every row (all strata capped
    ⇒ threshold = buckets ⇒ the hash compare is always true).

    Determinism discipline: √n_s is IEEE-exact (sqrt is correctly
    rounded, unlike pow(x, α)); the weight is FLOOR-quantized to a
    long, the allocation is exact integer arithmetic, and the keep
    threshold is ``(alloc_s · buckets) div n_s`` — no float anywhere a
    rounding seam could diverge from the oracle. Rows are kept by the
    deterministic md5 bucket, so the draw is repeatable and
    engine-replayable.

    One tiny aggregate (|strata| rows, lineage-cut so the corpus is
    scanned once for it) broadcast back onto the fact; the per-row
    filter is a map-only hash compare.
    """
    from db_cdc_poc_spark.checkpointing import materialize

    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("n_s"))
    counts = counts.withColumn(
        "w",
        F.floor(F.sqrt(F.col("n_s").cast("double")) * F.lit(1_000_000.0)).cast(
            "long"
        ),
        # NB: not "W" — Spark resolves column names case-insensitively,
        # so a "W" would silently REPLACE "w".
    )
    # |strata| rows: materialize so token_budget_fill's validity-bound
    # probe and the broadcast below don't each re-aggregate the corpus
    counts = materialize(counts, label="tmix-counts")
    alloc = token_budget_fill(
        counts, stratum_col, "n_s", "w", budget=target_rows
    )
    # exact-integer threshold; a capped stratum has alloc == n, so the
    # expression lands on `buckets` exactly and keeps every row.
    # Overflow-safe: alloc ≤ n and token_budget_fill's guard already
    # enforces max(n)·Σw < 2^63 with Σw ≥ buckets.
    thr = alloc.select(
        F.col(stratum_col),
        F.expr(f"(alloc_tokens * {int(buckets)}L) div n_tokens").alias("__thr"),
    )
    return (
        df.join(F.broadcast(thr), stratum_col)
        .filter(hash_bucket(id_col, salt, buckets) < F.col("__thr"))
        .drop("__thr")
    )


def training_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int = 8,
    salt: str = "order-v1",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Reproducible global shuffle into balanced training shards.

    Training wants data in a shuffled order that is (a) independent of
    how the corpus happens to be partitioned, (b) identical on every
    rerun, and (c) writable as N parallel shards. A ``df.orderBy(rand())``
    fails all three. Here every row gets a deterministic md5 draw: one
    hash picks the shard (uniform mod ``n_shards``), an independent
    hash (different salt namespace) orders rows WITHIN the shard, ties
    broken by id. The only non-map work is one row_number window
    partitioned BY SHARD — |shard| partitions of |rows|/n_shards each,
    no global sort, no single-partition window.

    Output: input columns + ``(shard, pos)`` — write with
    ``partitionBy(shard)`` sorted by pos for ready-to-stream shards.
    """
    shard = hash_bucket(id_col, f"{salt}:shard", buckets) % n_shards
    order = hash_bucket(id_col, f"{salt}:order", buckets)
    w = Window.partitionBy("shard").orderBy("__ord", id_col)
    return (
        df.withColumn("shard", shard.cast("int"))
        .withColumn("__ord", order)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("__ord")
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight: Column,
    target_rows: int,
    salt: str = "wsample",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Deterministic importance sampling with PER-ROW integer weights:
    row i is kept with probability ``min(1, target_rows · w_i / W)``
    (Poisson sampling with expected size ``target_rows`` when no
    probability clamps) — quality-weighted corpus selection, where
    better documents are proportionally more likely to survive.
    Complements :func:`temperature_mix`, whose weights are per-STRATUM.

    ``weight`` must be a non-negative integer-valued expression
    (quality ppm, token count...): the normalizer ``W = Σw`` is then an
    exact long, every per-row threshold derives from identical integers
    with one fixed double expression, and the md5 draw replays anywhere.
    Zero-weight rows are never kept. One tiny total-aggregate broadcast
    + a map-only filter.
    """
    # NULL weights count as 0 (kept-with-p=1 would be the NULL-poisoned
    # least() result otherwise), and rows with no positive weight are
    # dropped BEFORE the threshold math — so an all-zero/empty frame
    # returns empty instead of dividing by a zero total
    wl = F.coalesce(weight.cast("long"), F.lit(0))
    with_w = df.withColumn("__w", wl)
    tot = with_w.agg(F.sum("__w").alias("__wtot"))
    thr = F.floor(
        F.least(
            F.lit(1.0),
            F.lit(float(target_rows))
            * F.col("__w").cast("double")
            / F.col("__wtot").cast("double"),
        )
        * F.lit(float(buckets))
    ).cast("long")
    return (
        with_w.filter(F.col("__w") > 0)
        .crossJoin(F.broadcast(tot))
        .filter(hash_bucket(id_col, salt, buckets) < thr)
        .drop("__w", "__wtot")
    )


def epoch_upsample(
    df: DataFrame,
    stratum_col: str,
    epochs: Mapping[str, int],
    default_epochs: int = 1,
) -> DataFrame:
    """Repetition-factor data mixing: replicate each stratum's rows a
    whole number of times (the Pile-style "epochs per source" lever —
    high-quality sources are seen k times per training pass while the
    crawl is seen once). The complement of downsampling mixers:
    deterministic, exact, and order-free.

    Rows gain an ``epoch`` column (0-based); a row with k epochs
    appears exactly k times with epoch = 0..k-1. The replication is a
    literal CASE over the stratum compiled into ``explode(sequence)``
    — map-only row generation, no shuffle, no join.
    """
    for name, k in epochs.items():
        if k < 0:
            raise ValueError(f"epochs for {name!r} must be >= 0: {k}")
    if default_epochs < 0:
        raise ValueError(f"default_epochs must be >= 0: {default_epochs}")
    k_col: Column | None = None
    for name, k in epochs.items():
        cond = F.col(stratum_col) == F.lit(name)
        k_col = F.when(cond, k) if k_col is None else k_col.when(cond, k)
    k_col = (
        F.lit(default_epochs)
        if k_col is None
        else k_col.otherwise(default_epochs)
    )
    # k = 0 drops the stratum entirely: explode of an empty array emits
    # no row (a bare sequence(0, -1) would throw on illegal bounds)
    seq = F.when(k_col > 0, F.sequence(F.lit(0), k_col.cast("int") - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn("epoch", F.explode(seq))


def cluster_aware_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    weights: Mapping[str, float],
    salt: str = "",
    buckets: int = DEFAULT_BUCKETS,
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test split: near-duplicate documents
    NEVER straddle splits.

    A plain per-document hash split leaks evaluation data — a document
    and its near-duplicate land in different splits with probability
    ~2·p·(1−p), so the model is scored on paraphrases of its own
    training set (the failure mode eval-set decontamination papers
    exist to fix, created at split time). The fix: split by the
    near-dup CLUSTER, not the document. Each connected component of
    the ``pairs`` graph (id_a, id_b — any near-dup detector's output:
    `ngram_jaccard_pairs`, `minhash_lsh_pairs`, embedding pairs)
    hashes as ONE unit keyed by its min-id representative; unpaired
    documents hash by their own id, which equals their singleton-
    cluster representative, so the assignment law is uniform across
    paired and unpaired rows alike.

    Scale shape: the cluster map is pair-graph-sized (duplicate ids
    only — orders of magnitude smaller than the corpus), so the join
    back to ``df`` broadcasts; the split itself stays the same
    map-only md5 bucket as `split_assign`, engine-replayable by the
    oracle. Output: input columns + ``split_col``.
    """
    from db_cdc_poc_spark.operators.dedup import neardup_clusters

    clusters = neardup_clusters(pairs).withColumnRenamed("id", "__cid")
    rep = F.coalesce(F.col("cluster_id"), F.col(id_col))
    return (
        df.join(clusters, df[id_col] == F.col("__cid"), "left")
        .withColumn("__split_key", rep)
        .drop("__cid", "cluster_id")
        .transform(
            lambda d: split_assign(
                d, "__split_key", weights, salt, buckets, split_col
            )
        )
        .drop("__split_key")
    )


def dsir_log_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    n_buckets: int = 4096,
    salt: str = "dsir",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR) log-weights:
    score every document by how much more likely its hashed n-gram
    features are under a TARGET slice of the corpus than under the raw
    corpus (Xie et al., NeurIPS 2023, public method). The standard
    "make 100 TB of crawl look like Wikipedia" selector: rank by
    weight, keep the top mass.

    Features are unigrams + positional bigrams hashed into
    ``n_buckets`` buckets (hashing trick); bucket distributions are
    add-one smoothed, and the per-bucket log ratio
    ``ln p_target(b) - ln p_raw(b)`` is FLOOR-quantized to integer
    micro-nats BEFORE the per-document sum, so document scores are
    exact long sums — aggregation-order-independent and replayable by
    the md5-based oracle (ln on engine-identical integer-valued
    doubles, one rounding per bucket).

    Scale shape: one token-level shuffle to (doc, bucket) counts, one
    parameter-bounded aggregation to the ``n_buckets``-row weight
    table (the global-total window runs over those ``n_buckets`` rows,
    not the corpus), then a broadcast join back onto the per-doc
    counts. Linear in corpus tokens; no pair joins.

    Output: ``id_col``, ``n_grams`` (long), ``log_w_micro`` (long,
    micro-nats; higher = more target-like).
    """
    from db_cdc_poc_spark.operators.text import whitespace_tokens

    toks = whitespace_tokens(text_col)
    cnt = F.greatest(F.size(toks) - F.lit(1), F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, cnt),
        F.slice(toks, 2, cnt),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    from db_cdc_poc_spark.partitioning import spread_scan

    feat = spread_scan(df).select(
        F.col(id_col).alias("__id"),
        target.alias("__tgt"),
        F.explode(F.concat(toks, bigrams)).alias("__gram"),
    ).select(
        "__id",
        "__tgt",
        hash_bucket(F.col("__gram"), salt, n_buckets).alias("__bucket"),
    )
    # One token-level shuffle; __tgt is constant per doc so max() is
    # just "carry the flag through the groupBy".
    doc_counts = feat.groupBy("__id", "__bucket").agg(
        F.count(F.lit(1)).alias("__c"), F.max("__tgt").alias("__tgt")
    )
    # doc_counts feeds BOTH the bucket-stats aggregate and the final
    # per-doc join; un-cut, the explode + md5 + token shuffle runs once
    # per consumer (measured ~2x wall at sf1.0). localCheckpoint by
    # default; checkpoint_dir upgrades the cut to durable parquet.
    # corpus-sized waist (two sequential consumers): at 100x single-box
    # scale pass checkpoint_dir / set SPARK_GRAFT_CHECKPOINT_DIR — the
    # durable parquet waist measured 2.1x faster than memory blocks at
    # sf10 (SCALING.md "Waist storage at 100x")
    doc_counts = materialize(
        doc_counts, checkpoint_dir, eager=False, label="dsir-doc-counts"
    )
    bstats = doc_counts.groupBy("__bucket").agg(
        F.sum("__c").alias("raw_c"),
        F.sum(F.when(F.col("__tgt"), F.col("__c")).otherwise(F.lit(0))).alias(
            "tgt_c"
        ),
    )
    # Global totals over the n_buckets-row table: the single-partition
    # window is bounded by the PARAMETER, never by the data.
    tot = Window.partitionBy()
    bstats = bstats.withColumn("raw_tot", F.sum("raw_c").over(tot)).withColumn(
        "tgt_tot", F.sum("tgt_c").over(tot)
    )
    b = F.lit(float(n_buckets))
    lr = (
        F.log((F.col("tgt_c") + 1).cast("double"))
        - F.log(F.col("tgt_tot").cast("double") + b)
        - F.log((F.col("raw_c") + 1).cast("double"))
        + F.log(F.col("raw_tot").cast("double") + b)
    )
    weights = bstats.select(
        "__bucket",
        F.round(lr * F.lit(1_000_000.0), 0).cast("long").alias("__lr_micro"),
    )
    return (
        doc_counts.join(F.broadcast(weights), "__bucket")
        .groupBy("__id")
        .agg(
            F.sum("__c").alias("n_grams"),
            F.sum(F.col("__c") * F.col("__lr_micro")).alias("log_w_micro"),
        )
        .select(F.col("__id").alias(id_col), "n_grams", "log_w_micro")
    )


def match_distribution_sample(
    df: DataFrame,
    id_col: str,
    bin_col: Column,
    is_reference: Column,
    salt: str = "match",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Rejection-sample candidate rows so a binned feature matches the
    REFERENCE slice's distribution — "make the web crawl's length
    histogram look like the curated set's" (the distribution-matching
    step of quality pipelines; importance resampling with a histogram
    density ratio).

    Rows where ``is_reference`` holds define the target histogram;
    the remaining (candidate) rows are kept with probability
    ``min(1, p_ref(bin) / p_cand(bin))`` via the deterministic md5
    draw. Acceptance thresholds are computed in EXACT integer
    arithmetic — ``((t_b·buckets) div n_t · n_c) div c_b`` — so the
    oracle replays them bit-for-bit (valid while ``t_b·buckets`` and
    ``thr·n_c`` stay under 2^63: with the 1e6 default that is ~9e12
    reference rows — rescale ``buckets`` down beyond that).

    Scale shape: one histogram aggregation (|bins| rows, tiny), a
    parameter-bounded global window over it, one broadcast join back,
    then a map-only hash filter. Returns candidate rows only, original
    columns preserved.
    """
    b = df.withColumn("__bin", bin_col.cast("long")).withColumn(
        "__ref", is_reference
    )
    stats = b.groupBy("__bin").agg(
        F.sum(F.col("__ref").cast("long")).alias("t_b"),
        F.sum((~F.col("__ref")).cast("long")).alias("c_b"),
    )
    tot = Window.partitionBy()
    stats = stats.withColumn("n_t", F.sum("t_b").over(tot)).withColumn(
        "n_c", F.sum("c_b").over(tot)
    )
    thr = F.least(
        F.lit(buckets).cast("long"),
        F.expr(f"(((t_b * {buckets}L) div n_t) * n_c) div c_b"),
    )
    thr_table = stats.select(
        "__bin",
        F.when((F.col("c_b") > 0) & (F.col("n_t") > 0), thr)
        .otherwise(F.lit(0))
        .alias("__thr"),
    )
    return (
        b.filter(~F.col("__ref"))
        .join(F.broadcast(thr_table), "__bin")
        .filter(hash_bucket(id_col, salt, buckets) < F.col("__thr"))
        .drop("__bin", "__ref", "__thr")
    )


def token_budget_fill(
    df: DataFrame,
    key_col: str,
    tokens_col: str,
    weight_col: str,
    budget: int,
) -> DataFrame:
    """Water-filling token-budget allocator: split a training-token
    ``budget`` across domains proportionally to ``weight_col``, capping
    each domain at its available ``tokens_col`` and redistributing the
    shortfall to the uncapped domains (the mixture solver behind
    DoReMi/Pile-style "target weights vs available data" planning).

    The classic iterative algorithm is solved in CLOSED FORM with
    window functions: sort domains by ``tokens/weight`` ascending —
    along that order "domain fits fully at the current water level" is
    a monotone predicate, so the capped set is a prefix and each row
    decides membership from prefix sums alone:
    ``n_k · (W − cumW_{k−1}) ≤ (B − cumN_{k−1}) · w_k``. Uncapped
    domains get ``(B − ΣcapN) · w_s div (W − ΣcapW)`` — all exact
    integer arithmetic, clamped to [0, n_s], replayed verbatim by the
    oracle. The double ratio is used ONLY for ordering (identical
    doubles order identically on both engines; ties broken by key).

    All windows run over the |domains|-row aggregate — bounded by the
    domain count, never the corpus. Weights must be positive longs
    (floor-quantize upstream, e.g. ``floor(sqrt(n)·1e6)``); tokens
    non-negative longs.

    Validity bound (exact-integer arithmetic): the prefix-sum products
    need ``max(n)·Σw < 2^63`` and ``budget·max(w) < 2^63``. At the
    100 TB scale this targets (domains of ~1e13 tokens), that means
    weight mass Σw must stay under ~9e5 — quantize weights coarser,
    not finer, as domains grow. The guard below rejects violating
    inputs up front with that guidance (under ANSI mode the products
    would error loudly anyway, but mid-job and without the remedy);
    it reads one 3-value aggregate over the |domains|-row input.

    Output: ``key_col``, ``n_tokens``, ``weight``, ``capped`` (bool),
    ``alloc_tokens`` (long, ≤ n_tokens, Σ ≤ budget).
    """
    base = df.select(
        F.col(key_col).alias("__key"),
        F.col(tokens_col).cast("long").alias("__n"),
        F.col(weight_col).cast("long").alias("__w"),
    ).withColumn(
        "__r", F.col("__n").cast("double") / F.col("__w").cast("double")
    )
    lim = base.agg(
        F.max("__n").alias("n_max"),
        F.sum("__w").alias("w_tot"),
        F.max("__w").alias("w_max"),
    ).collect()[0]
    if lim.n_max is not None and (
        int(lim.n_max) * int(lim.w_tot) >= 2**63
        or int(budget) * int(lim.w_max) >= 2**63
    ):
        raise ValueError(
            f"token_budget_fill int64 validity bound exceeded: need "
            f"max(tokens)*sum(weights) < 2^63 and budget*max(weight) < "
            f"2^63, got max(n)={lim.n_max}, sum(w)={lim.w_tot}, "
            f"budget={budget}, max(w)={lim.w_max}; quantize weights "
            "coarser (divide all weights by a common factor — the "
            "allocation depends only on weight RATIOS)"
        )
    order = Window.orderBy("__r", "__key").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy()
    cum = (
        base.withColumn("__cum_n", F.sum("__n").over(order))
        .withColumn("__cum_w", F.sum("__w").over(order))
        .withColumn("__tot_w", F.sum("__w").over(tot))
    )
    capped = F.expr(
        f"__n * (__tot_w - (__cum_w - __w)) <= ({budget}L - (__cum_n - __n)) * __w"
    )
    sized = cum.withColumn("__capped", capped)
    sized = sized.withColumn(
        "__num",
        F.lit(budget)
        - F.sum(F.when(F.col("__capped"), F.col("__n")).otherwise(F.lit(0))).over(
            tot
        ),
    ).withColumn(
        "__den",
        F.col("__tot_w")
        - F.sum(F.when(F.col("__capped"), F.col("__w")).otherwise(F.lit(0))).over(
            tot
        ),
    )
    alloc = F.when(F.col("__capped"), F.col("__n")).otherwise(
        F.greatest(
            F.lit(0).cast("long"),
            F.least(F.col("__n"), F.expr("(__num * __w) div __den")),
        )
    )
    return sized.select(
        F.col("__key").alias(key_col),
        F.col("__n").alias("n_tokens"),
        F.col("__w").alias("weight"),
        F.col("__capped").alias("capped"),
        alloc.cast("long").alias("alloc_tokens"),
    )
