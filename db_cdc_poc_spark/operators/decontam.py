"""Eval-set decontamination: flag training documents that share long
word n-grams with a held-out evaluation set.

The standard pre-training hygiene step (n-gram-overlap decontamination
as published for GPT-2/GPT-3-style pipelines, typically with n in
8..13): any training document containing a verbatim n-gram from an
eval/benchmark document is flagged (and usually dropped) so benchmark
numbers measure generalization, not memorized leakage.

Scale shape (the part that matters at 100 TB): the eval side is SMALL
(benchmarks are thousands of documents) while the train side is the
full corpus. So the plan is:

* explode the eval set to its DISTINCT n-gram set (tiny — bounded by
  eval token count);
* ``F.broadcast`` that set and inner-join the exploded train n-grams
  against it — a broadcast hash join, meaning the 100 TB train side is
  scanned ONCE, map-side, with NO shuffle of train data;
* aggregate hits per train document (partial aggregation map-side).

The only shuffle in the whole plan is the final per-doc count — sized
by the number of HITS, not by corpus size.

No reference-repo counterpart (the reference has no text operators);
this extends SURVEY.md §7 step 5 alongside `operators/text.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def contaminated_docs(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    broadcast_eval: bool | None = None,
) -> DataFrame:
    """Per-train-document contamination report.

    Output: (id, n_hit, n_shingles, contamination) for every train doc
    sharing at least one word ``n``-gram with the eval set, where

    * ``n_hit``   = how many of the doc's distinct n-grams appear in
      the eval set,
    * ``n_shingles`` = the doc's distinct n-gram count,
    * ``contamination`` = n_hit / n_shingles (both small exact
      integers, so the division is bit-identical across engines).

    Dropping flagged docs is then a broadcast LEFT ANTI join on id —
    or simply `train_df.join(flagged, id, "left_anti")`.

    Single-scan plan: the train side is projected to
    (id, n_shingles, explode(shingles)) in ONE pass — the per-doc
    shingle count rides along through the hit join instead of being
    re-aggregated, so the only shuffle in the plan is the final
    per-doc hit count (sized by hits, not by corpus).
    """
    from db_cdc_poc_spark.operators.dedup import word_ngram_hashes_col

    # Grams never materialize as strings on either side: an 8-word gram
    # is ~90 bytes, and at sf1.0 the string join shuffled/sorted ~5M of
    # them per side. word_ngram_hashes_col hashes each token once and
    # each gram as one hash over the n-long token-hash slice, so the
    # train rows are 16 bytes and the distinct eval set shrinks to a
    # few MB — small enough that AQE broadcasts it no matter how the
    # eval slice scales. Same exact-up-to-hash-collision contract as
    # the span-hash family (operators/dedup.py:span_hash_rows): a false
    # hit needs a 64-bit collision between a train gram and an eval
    # gram — ~1e-7 at 10M grams, and deterministic either way.
    # Two-step projection: alias the hash array first so size() and
    # explode() share ONE evaluation per row (CollapseProject keeps a
    # twice-referenced non-cheap alias materialized instead of inlining
    # it into both consumers).
    from db_cdc_poc_spark.partitioning import spread_scan

    train_sh = spread_scan(train_df).select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_ngram_hashes_col(text_col, n)).alias("sh"),
    ).select(
        "id",
        F.size("sh").alias("n_shingles"),
        F.explode("sh").alias("__h"),
    )
    ev = (
        eval_df.select(
            F.explode(
                F.array_distinct(word_ngram_hashes_col(text_col, n))
            ).alias("__h")
        )
        .distinct()
    )
    # ``broadcast_eval``: True forces the broadcast (the right call
    # when the eval side is a real benchmark suite — thousands of docs,
    # fixed size, independent of corpus scale). None (default) leaves
    # the strategy to Catalyst/AQE: AQE sees the eval distinct's
    # ACTUAL post-shuffle size and still broadcasts when it fits,
    # but an eval slice that grows with the corpus (or a huge one)
    # degrades gracefully to a shuffle join instead of funneling
    # millions of strings through a driver-built hash relation —
    # measured 1.5x faster at sf1.0 where the eval slice is ~900k
    # 8-grams.
    if broadcast_eval:
        ev = F.broadcast(ev)
    return (
        train_sh.join(ev, "__h")
        .groupBy("id", "n_shingles")
        .agg(F.count("*").alias("n_hit"))
        .select(
            "id",
            "n_hit",
            "n_shingles",
            F.round(
                F.col("n_hit").cast("double") / F.col("n_shingles"), 6
            ).alias("contamination"),
        )
    )
