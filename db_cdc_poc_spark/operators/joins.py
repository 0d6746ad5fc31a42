"""Join strategies beyond the built-ins: as-of join, skew salting,
range joins.

The reference's only non-equi predicate is the gold query's range
residual (J2, 04_Current_Inventory.sql:30-33); these are the engine
extensions SURVEY §2.3 lists as absent-but-natural, each built as a
composition of DataFrame ops so Catalyst still plans them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: str | Sequence[str],
    left_time: str,
    right_time: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Backward as-of join: for every left row, the latest right row
    with ``right_time <= left_time`` per key (inclusive), as new
    columns ``value_cols`` (null when no prior right row exists).

    Plan: tag sides, UNION by key, one shuffle+sort per key on
    (time, side), then ``last(value, ignoreNulls)`` over an unbounded-
    preceding window carries each right value forward to the left rows
    after it. Cost is one shuffle of |L|+|R| rows — no pair blowup, in
    contrast to the join-then-max_by formulation whose intermediate is
    |matching pairs| (quadratic per hot key). Right rows tie-sort
    BEFORE left rows at equal times, making the join inclusive.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    value_cols = list(value_cols)
    left_payload = [c for c in left.columns if c not in keys]

    r = right.select(
        *keys,
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"),
        *[F.col(c) for c in value_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_payload],
    )
    l = left.select(
        *keys,
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in value_cols],
        *[F.col(c) for c in left_payload],
    )
    u = r.unionByName(l)
    w = (
        Window.partitionBy(*keys)
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.select(
        *keys,
        "__side",
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in value_cols],
        *left_payload,
    )
    return filled.filter(F.col("__side") == 1).drop("__side")


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Equi-join with hot-key salting: the skewed (large) side gets a
    deterministic salt in [0, salt); the small side is replicated salt
    times; the join adds __salt to the keys, splitting each hot key's
    rows across ``salt`` reducers.

    Use when one side has pathological key skew that AQE's skew-join
    split can't fix (single giant key). The salt is a hash of the whole
    row — deterministic, so results are reproducible. Replication
    multiplies the small side by ``salt``: keep it broadcast-sized.

    Only ``inner`` and ``left`` are supported: salting replicates the
    small side ``salt``×, and under right/full-outer semantics the
    replicas whose ``__salt`` matches no skewed-side row would survive
    as spurious null-padded output rows.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: "
            "small-side replicas break right/full outer semantics"
        )
    on = [on] if isinstance(on, str) else list(on)
    lsalt = skewed.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(salt)),
    )
    rsalt = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<bigint>"))
    )
    return lsalt.join(rsalt, [*on, "__salt"], how).drop("__salt")


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_lo: str,
    right_hi: str,
    bucket_width: int,
    keys: str | Sequence[str] = (),
) -> DataFrame:
    """Interval join — left rows matched to right rows whose
    [right_lo, right_hi] range contains the left point (inclusive),
    optionally also keyed on equality ``keys``.

    A naive non-equi join condition gives Catalyst nothing to hash on:
    with no equality conjunct the plan degenerates to
    BroadcastNestedLoopJoin — |L| x |R| comparisons, dead at scale.
    The standard fix (Databricks' range-join binning, here from plain
    primitives): quantize the point and every bucket the interval
    overlaps onto a ``bucket_width`` grid, equi-join on the bucket id
    (plus ``keys``), then apply the exact range predicate. Each
    interval explodes into (hi-lo)/width + 1 bucket rows, so pick
    ``bucket_width`` near the TYPICAL interval length: candidate pairs
    then come only from ranges near the point — the join is hashable,
    shuffle-partitioned, AQE-skew-splittable.

    ``left_point``/``right_lo``/``right_hi`` must be integer-valued
    (cast timestamps with unix_micros etc. at the call site). Output:
    left columns + right columns (names must not collide).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    lb = left.withColumn("__b", (F.col(left_point) / bucket_width).cast("long"))
    span = F.sequence(
        (F.col(right_lo) / bucket_width).cast("long"),
        (F.col(right_hi) / bucket_width).cast("long"),
    )
    rb = right.withColumn("__b", F.explode(span))
    out = lb.join(rb, [*keys, "__b"]).filter(
        (F.col(left_point) >= F.col(right_lo))
        & (F.col(left_point) <= F.col(right_hi))
    )
    return out.drop("__b")


def blocked_fuzzy_pairs(
    df: DataFrame,
    key_col: str,
    block: Column,
    max_distance: int = 3,
) -> DataFrame:
    """Record-linkage candidate pairs: block, then edit-distance verify.

    The classic entity-resolution shape — an all-pairs Levenshtein
    over n records is O(n²) string comparisons and a cartesian plan;
    production linkage ALWAYS blocks first. ``block`` is a cheap
    deterministic key (last name token, soundex, sorted-trigram
    prefix...); pairs are generated only WITHIN a block via a hash
    equi-join on the block key, then verified with
    ``levenshtein() <= max_distance``. ``a < b`` on the key
    canonicalizes pair order.

    Dedupe to DISTINCT keys before calling when the input has repeated
    values — at 100 TB that collapse (a groupBy, map-side partial) is
    what keeps block sizes bounded by vocabulary, not row count.

    Output: ``(key_a, key_b, distance)``.
    """
    # ONE distinct pass, materialized once (lazy local checkpoint) and
    # self-joined under two aliases — without it the self-join's
    # expression re-aliasing makes Catalyst treat the two sides as
    # distinct subtrees and scan+shuffle the input twice
    d = (
        df.select(F.col(key_col).alias("__key"), block.alias("__blk"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    a = d.select(F.col("__key").alias("key_a"), "__blk")
    b = d.select(F.col("__key").alias("key_b"), "__blk")
    pairs = a.join(b, "__blk").filter(F.col("key_a") < F.col("key_b"))
    return (
        pairs.withColumn(
            "distance", F.levenshtein(F.col("key_a"), F.col("key_b"))
        )
        .filter(F.col("distance") <= max_distance)
        .select("key_a", "key_b", "distance")
    )


def join_fanout_estimate(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    top_k: int = 10,
) -> DataFrame:
    """Pre-flight output-size estimate for an equi-join — the check you
    run BEFORE committing a 100 TB shuffle. Exact, and far cheaper
    than the join: the per-key output cardinality is
    ``count_left(key) * count_right(key)``, so two per-key aggregates
    (each a map-side-partial combine over its own input, never the
    cross product) joined on the key give the full answer; the join
    runs over key-cardinality-sized tables, not row-sized ones.

    One summary row: matched-key count, exact output rows the join
    would produce, the hottest key's output share (ppm) and the
    ``top_k``-hottest share — the numbers that decide between a plain
    join, `salted_join`, or rethinking the query. The hot-key share is
    computed with a TakeOrdered (per-partition heaps, k rows to the
    driver), never a global sort; ties break on the keys.
    """
    keys = list(keys)
    lc = left.groupBy(*keys).agg(F.count(F.lit(1)).alias("__ln"))
    rc = right.groupBy(*keys).agg(F.count(F.lit(1)).alias("__rn"))
    per_key = lc.join(rc, keys).select(
        *keys, (F.col("__ln") * F.col("__rn")).alias("out_rows")
    )
    top = per_key.orderBy(F.col("out_rows").desc(), *keys).limit(top_k)
    topsum = top.agg(F.sum("out_rows").alias("__top_out"))
    return (
        per_key.agg(
            F.count(F.lit(1)).alias("n_matched_keys"),
            F.sum("out_rows").alias("total_out_rows"),
            F.max("out_rows").alias("max_key_out_rows"),
        )
        .crossJoin(F.broadcast(topsum))
        .select(
            "n_matched_keys",
            "total_out_rows",
            "max_key_out_rows",
            F.expr("1000000 * max_key_out_rows div total_out_rows").alias(
                "max_key_share_ppm"
            ),
            F.expr("1000000 * __top_out div total_out_rows").alias(
                f"top{top_k}_share_ppm"
            ),
        )
    )


def golden_records(
    df: DataFrame,
    cluster_col: str,
    rules: dict[str, tuple[str, str]],
    priority_col: str | None = None,
) -> DataFrame:
    """Survivorship consolidation: collapse each entity cluster (the
    output of the linkage family — ``blocked_fuzzy_pairs`` →
    ``dedup.neardup_clusters``) to ONE golden record, choosing each
    attribute independently by an explicit rule — the master-data-
    management step after record linkage.

    ``rules`` maps output column -> (rule, source_col) with rules:

    * ``'max_by'`` / ``'min_by'``: value from the record with the
      extreme ``priority_col`` among records where the source column
      is NOT NULL (most-recent-wins / first-wins survivorship). Ties
      on priority break by the value itself, so the result is
      deterministic whatever the shuffle order.
    * ``'max'`` / ``'min'``: extreme of the values themselves.
    * ``'sum'`` / ``'count'``: additive consolidation.

    One aggregation keyed on the cluster — a single shuffle,
    map-side-partial, no window, no self-join.
    """
    aggs = []
    for out, (rule, src) in rules.items():
        if rule in ("max_by", "min_by"):
            if priority_col is None:
                raise ValueError(f"{rule} for {out!r} needs priority_col")
            pick = F.max if rule == "max_by" else F.min
            # NULL source values must never win: mask the ordering
            # struct to NULL so the aggregate skips the record.
            ordered = F.when(
                F.col(src).isNotNull(),
                F.struct(F.col(priority_col).alias("p"), F.col(src).alias("v")),
            )
            aggs.append(pick(ordered)["v"].alias(out))
        elif rule in ("max", "min", "sum"):
            aggs.append(getattr(F, rule)(F.col(src)).alias(out))
        elif rule == "count":
            aggs.append(F.count(F.col(src)).alias(out))
        else:
            raise ValueError(f"unknown survivorship rule {rule!r}")
    return df.groupBy(F.col(cluster_col)).agg(*aggs)


def bloom_pruned_join(
    fact: DataFrame,
    dim: DataFrame,
    key_col: str,
    k: int = 3,
    m_bits: int = 1 << 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with an explicit Bloom runtime filter: the fact side
    is pruned MAP-ONLY against a filter built from the dim side's keys
    before any fact shuffle happens — the classic 100 TB star-join
    pattern for a SELECTIVE dim that is still too big to broadcast
    (whose bit-position table, capped at ``m_bits`` distinct rows ≈
    KBs, always broadcasts even when the dim itself cannot).

    Semantics are EXACTLY the plain join's: a Bloom filter has no
    false negatives, so the prune keeps a superset of the matching
    fact rows and the real join then decides membership — which is
    why a plain-SQL oracle replays this operator.

    Plan shape: the dim's md5 bit positions (``sketches.
    bloom_positions`` — portable hashing, so a persisted filter is
    checkable by other engines) deduplicate to <= m_bits rows; the
    fact survives ``k`` broadcast LEFT SEMI joins, one per hash — all
    map-side, zero fact shuffles — then joins the dim for real.
    Spark's own AQE bloom (``spark.sql.optimizer.runtime.bloomFilter.
    enabled``) does this adaptively inside one query; the explicit
    operator is for filters known up front (decontamination key lists,
    entity blocklists) or reused across queries.
    """
    from db_cdc_poc_spark.operators.sketches import bloom_positions

    key = F.col(key_col)
    bits = (
        dim.select(F.explode(bloom_positions(key, k, m_bits)).alias("__pos"))
        .distinct()
    )
    pruned = fact
    for i in range(k):
        pos_i = bloom_positions(key, k, m_bits)[i]
        pruned = pruned.join(
            F.broadcast(bits), pos_i == F.col("__pos"), "left_semi"
        )
    return pruned.join(dim, key_col, how)


def auto_salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    salt: int = 8,
    hot_threshold: int = 1_000_000,
) -> DataFrame:
    """Adaptive hot-key salting: measure the skewed side's key
    frequencies FIRST (one aggregation), then salt ONLY the keys above
    ``hot_threshold`` — the rest of the corpus joins un-replicated.

    :func:`salted_join` replicates the small side ``salt``× for every
    key, paying the replication tax on the 99.9% of keys that were
    never skewed. Here the hot-key list (tiny by definition — keys
    holding >threshold rows) broadcasts to split BOTH inputs: cold
    keys take the plain equi-join; hot keys take the salted join with
    the small side replicated only for rows whose key is hot. Same
    result set as the plain join for any threshold — the split is
    exhaustive and disjoint — so a plain-SQL oracle replays it, and
    the threshold is pure physical tuning, exactly like AQE's
    ``skewedPartitionThresholdInBytes`` but usable when one LOGICAL
    key (not one partition) is the problem.

    Like :func:`salted_join`, only ``inner``/``left`` are supported
    (the hot branch salts; see the restriction there). The cold/hot
    split itself is also only union-exhaustive for those modes: a
    right/full join would need small-side-only keys routed to exactly
    one branch.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"auto_salted_join supports how='inner'|'left', got {how!r}: "
            "salting breaks right/full outer semantics"
        )
    on = [on] if isinstance(on, str) else list(on)
    hot = (
        skewed.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > hot_threshold)
        .select(*on)
        .withColumn("__hot", F.lit(True))
    )
    skew_flag = skewed.join(F.broadcast(hot), on, "left")
    small_flag = small.join(F.broadcast(hot), on, "left")
    cold = skew_flag.filter(F.col("__hot").isNull()).drop("__hot").join(
        small_flag.filter(F.col("__hot").isNull()).drop("__hot"), on, how
    )
    hot_join = salted_join(
        skew_flag.filter(F.col("__hot").isNotNull()).drop("__hot"),
        small_flag.filter(F.col("__hot").isNotNull()).drop("__hot"),
        on,
        how,
        salt,
    )
    return cold.unionByName(hot_join)
