"""Eval-set decontamination: planted-leak detection, counts, plan
shape (eval side broadcast — no train-data shuffle into the join)."""

from __future__ import annotations

from pyspark.sql import functions as F

from db_cdc_poc_spark.operators.decontam import contaminated_docs

EVAL = [
    # 11 tokens -> 4 distinct 8-grams
    (100, "the quick brown fox jumps over the lazy sleeping dog tonight"),
    # 8 tokens -> 1 shingle
    (101, "completely unrelated benchmark prompt about particle physics experiments"),
]
TRAIN = [
    # copies an 8-token span from eval doc 100 -> contaminated
    (1, "intro words then the quick brown fox jumps over the lazy sleeping end"),
    # shares only short overlaps (< 8 tokens) -> clean
    (2, "the quick brown fox stops here and nothing else matches at all"),
    # no overlap at all -> clean
    (3, "entirely different text with zero shared vocabulary whatsoever today"),
    # too short for any 8-gram -> no shingles, never flagged
    (4, "tiny doc"),
]


def _dfs(spark):
    train = spark.createDataFrame(TRAIN, ["doc_id", "text"])
    ev = spark.createDataFrame(EVAL, ["doc_id", "text"])
    return train, ev


def test_planted_leak_flagged_with_exact_counts(spark):
    train, ev = _dfs(spark)
    out = contaminated_docs(train, ev, n=8).collect()
    assert {r.id for r in out} == {1}
    (row,) = out
    # doc 1: 13 tokens -> 6 distinct 8-grams; tokens 4..12 reproduce
    # eval tokens 1..9, so train grams at offsets 4 and 5 are eval
    # grams 1 and 2 -> n_hit = 2.
    assert row.n_shingles == 6
    assert row.n_hit == 2
    assert abs(row.contamination - round(2 / 6, 6)) < 1e-9


def test_eval_side_is_broadcast_when_forced(spark):
    """broadcast_eval=True is the benchmark-suite contract: the eval
    side is hint-broadcast regardless of size estimates."""
    train, ev = _dfs(spark)
    plan = (
        contaminated_docs(train, ev, n=8, broadcast_eval=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_default_path_broadcasts_small_eval_at_runtime(spark):
    """Default (broadcast_eval=None) leaves the strategy to AQE, which
    must still land on a broadcast join once it sees the tiny eval
    distinct's actual size — checked on the FINAL adaptive plan, after
    execution."""
    train, ev = _dfs(spark)
    df = contaminated_docs(train, ev, n=8)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the adaptive plan string carries BOTH the initial (pre-stats,
    # sort-merge) and final plans — assert on the final section only
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final


def test_anti_join_drop_keeps_clean_docs(spark):
    train, ev = _dfs(spark)
    flagged = contaminated_docs(train, ev, n=8)
    kept = train.join(
        flagged.select(F.col("id").alias("doc_id")), "doc_id", "left_anti"
    )
    assert {r.doc_id for r in kept.collect()} == {2, 3, 4}


def test_hot_eval_ngram_candidates_stay_linear(spark):
    """An eval n-gram present in MANY train docs fans out linearly
    (one hit row per train doc containing it), never quadratically —
    the eval side is distinct'd before the join, so d train docs x 1
    eval gram = d candidate rows."""
    hot = "alpha beta gamma delta epsilon zeta eta theta"  # one 8-gram
    ev = spark.createDataFrame([(1000, hot)], "doc_id long, text string")
    train = spark.createDataFrame(
        [(i, f"lead{i} words{i} " + hot + f" tail{i}") for i in range(50)],
        "doc_id long, text string",
    )
    out = contaminated_docs(train, ev, n=8).collect()
    assert len(out) == 50
    # each train doc shares exactly the 1 planted 8-gram... plus the
    # two bridging grams are doc-unique, so n_hit == 1 for all
    assert {r.n_hit for r in out} == {1}
