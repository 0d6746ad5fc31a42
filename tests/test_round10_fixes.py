"""Round-10 fixes.

1. `temperature_mix` water-filling redistribution: the round-9 judge's
   hypothesis run falsified the naive per-stratum clamp
   ``min(1, target·p_s/n_s)`` — when a small stratum clamps at 1.0 its
   unspent share of the target evaporated, so the operator UNDER-FILLED
   (dropping rows even at ``target ≥ corpus``). The fix allocates the
   target with the `token_budget_fill` water-filling closed form. These
   tests pin:
   - the exact 5-row falsifying example (strata a=4 / b=1, target=5),
     explicitly, without hypothesis;
   - ``target ≥ corpus`` keeps everything on a larger skewed corpus;
   - the redistribution case (100/1 rows, target 50): the kept set
     equals a pure-Python replay of water-filling + md5 draw, and the
     clamped stratum's surplus actually lands on the big stratum
     (expected-kept ≈ target, which the old clamp missed by ~7%).
"""

from __future__ import annotations

import hashlib
import math

from db_cdc_poc_spark.operators.sampling import temperature_mix

_MASK63 = (1 << 63) - 1
_BUCKETS = 1_000_000


def _bucket(doc_id: int, salt: str = "mix") -> int:
    h = hashlib.md5(f"{salt}:{doc_id}".encode()).hexdigest()[:16]
    return (int(h, 16) & _MASK63) % _BUCKETS


def _water_fill(counts: dict[str, int], target: int) -> dict[str, int]:
    """Pure-Python replay of token_budget_fill over row counts."""
    rows = [
        (n / w, s, n, w)
        for s, n in counts.items()
        for w in [math.floor(math.sqrt(n) * 1_000_000.0)]
    ]
    rows.sort(key=lambda t: (t[0], t[1]))
    tot_w = sum(w for _, _, _, w in rows)
    cum_n = cum_w = 0
    capped: dict[str, bool] = {}
    for _, s, n, w in rows:
        capped[s] = n * (tot_w - cum_w) <= (target - cum_n) * w
        cum_n += n
        cum_w += w
    num = target - sum(counts[s] for s in capped if capped[s])
    den = tot_w - sum(
        math.floor(math.sqrt(counts[s]) * 1_000_000.0)
        for s in capped
        if capped[s]
    )
    alloc = {}
    for _, s, n, w in rows:
        alloc[s] = n if capped[s] else max(0, min(n, (num * w) // den))
    return alloc


def _model_kept(rows: list[tuple[int, str]], target: int) -> set[int]:
    counts: dict[str, int] = {}
    for _, s in rows:
        counts[s] = counts.get(s, 0) + 1
    alloc = _water_fill(counts, target)
    thr = {s: (alloc[s] * _BUCKETS) // counts[s] for s in counts}
    return {i for i, s in rows if _bucket(i) < thr[s]}


def test_temperature_mix_judge_counterexample(spark):
    # the exact round-9 falsifying example: a=4 rows, b=1 row, target=5.
    # target == corpus size, so NOTHING may drop; the old clamp kept
    # stratum a with p≈0.83 and dropped row 0.
    rows = [(0, "a"), (1, "a"), (2, "a"), (3, "a"), (4, "b")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = {r.doc_id for r in temperature_mix(df, "doc_id", "source", 5).collect()}
    assert kept == {0, 1, 2, 3, 4}


def test_temperature_mix_target_at_corpus_keeps_all(spark):
    # larger, skewed: 60 + 3 + 1 rows across three strata
    rows = (
        [(i, "big") for i in range(60)]
        + [(100 + i, "mid") for i in range(3)]
        + [(200, "tiny")]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    for target in (64, 65, 100):
        kept = {
            r.doc_id
            for r in temperature_mix(df, "doc_id", "source", target).collect()
        }
        assert kept == {i for i, _ in rows}, f"target={target} dropped rows"


def test_temperature_mix_redistributes_clamped_surplus(spark):
    # 100-row stratum + 1-row stratum, target 50. Old clamp: the tiny
    # stratum clamps (its share of target was ~4.5 rows for 1 row) and
    # the surplus evaporated — expected kept 100·0.4545 + 1 ≈ 46.5.
    # Water-filling re-spreads it: alloc = {a: 49, b: 1}.
    rows = [(i, "a") for i in range(100)] + [(1000, "b")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = {r.doc_id for r in temperature_mix(df, "doc_id", "source", 50).collect()}

    assert _water_fill({"a": 100, "b": 1}, 50) == {"a": 49, "b": 1}
    assert kept == _model_kept(rows, 50)
    assert 1000 in kept  # clamped stratum keeps everything
    # threshold moved from the old 454545 (45.45%) to 490000 (49%)
    old_thr = math.floor(
        min(1.0, 50 * (10_000_000 / 11_000_000) / 100) * _BUCKETS
    )
    assert old_thr == 454545
    n_big_kept = len(kept) - 1
    assert n_big_kept == sum(1 for i in range(100) if _bucket(i) < 490_000)
    assert n_big_kept >= sum(1 for i in range(100) if _bucket(i) < old_thr)


def test_temperature_mix_subset_and_deterministic(spark):
    rows = [(i, "a" if i % 7 else "b") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    k1 = {r.doc_id for r in temperature_mix(df, "doc_id", "source", 10).collect()}
    k2 = {r.doc_id for r in temperature_mix(df, "doc_id", "source", 10).collect()}
    assert k1 == k2  # deterministic draw
    assert k1 <= {i for i, _ in rows}
    assert k1 == _model_kept(rows, 10)


# ---------------------------------------------------------------------------
# round-9 ADVICE: crash windows in the two-step index/journal writes
# ---------------------------------------------------------------------------


def test_recluster_crash_between_writes_duplicates_not_loss(
    spark, monkeypatch, tmp_path_factory
):
    """ADVICE (vector_index.recluster): the evacuee append now precedes
    the selected-partition overwrite, so a crash between the two writes
    leaves transient duplicates — never silently dropped vectors — and
    re-running the same recluster converges (idempotent anti-joined
    append + overwrite clears the stale copies)."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from db_cdc_poc_spark.operators.similarity import norm
    from db_cdc_poc_spark.operators.vector_index import IvfIndex

    rng = np.random.RandomState(7)
    d = 4
    e = np.eye(d)

    def blob(center, n, start_id):
        pts = center[None, :] + rng.randn(n, d) * 0.1
        return [(start_id + i, [float(x) for x in pts[i]]) for i in range(n)]

    rows = blob(2 * e[0], 8, 0) + blob(2 * e[1], 8, 100) + blob(2 * e[2], 8, 200)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(i, [float(x) for x in 2 * e[i]]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )

    path = str(tmp_path_factory.mktemp("ivfcrash_")) + "/index"
    idx = IvfIndex.build(corpus, centroids=cents, path=path)
    all_ids = {i for i, _ in rows}

    # external codebook swap of centroids 1<->2: list 1's members (B,
    # at e1) now argmax to centroid 2 — an UNTOUCHED list when only
    # list 1 is selected, so the repair must evacuate-by-append
    swapped = spark.createDataFrame(
        [(0, [float(x) for x in 2 * e[0]]),
         (1, [float(x) for x in 2 * e[2]]),
         (2, [float(x) for x in 2 * e[1]])],
        "cid long, ce array<double>",
    ).withColumn("cen", norm("ce"))
    swapped.write.mode("overwrite").parquet(f"{path}/centroids")
    spark.catalog.refreshByPath(f"{path}/centroids")

    # crash injection: the dynamic-overwrite conf flip sits exactly
    # between the append and the overwrite
    real_set = type(spark.conf).set

    def boom(self, key, value=None):
        if (
            key == "spark.sql.sources.partitionOverwriteMode"
            and value == "dynamic"
        ):
            raise RuntimeError("injected crash between append and overwrite")
        return real_set(self, key, value)

    monkeypatch.setattr(type(spark.conf), "set", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        idx.recluster(spark, list_ids=[1], iters=0)
    monkeypatch.undo()
    spark.catalog.refreshByPath(f"{path}/lists")

    lists = spark.read.parquet(f"{path}/lists").select("neighbor_id", "list_id")
    got = lists.collect()
    # NO LOSS: every vector still findable (the old code's failure mode
    # dropped all of B here); B duplicated across lists 1 and 2 is the
    # accepted transient
    assert {r.neighbor_id for r in got} == all_ids
    assert len(got) == len(all_ids) + 8  # B present twice

    # re-run of the SAME repair converges: anti-join skips the already-
    # appended copies, the overwrite clears list 1's stale ones
    res = idx.recluster(spark, list_ids=[1], iters=0)
    assert res["lists_selected"] == 1
    final = spark.read.parquet(f"{path}/lists").select("neighbor_id", "list_id").collect()
    assert {r.neighbor_id for r in final} == all_ids
    assert len(final) == len(all_ids)  # duplicates gone
    by_id = {r.neighbor_id: r.list_id for r in final}
    assert all(by_id[i] == 2 for i in range(100, 108))  # B landed in list 2


def test_recover_compaction_tolerates_torn_journal(spark, tmp_path):
    """ADVICE (maintenance journal): a torn/garbage journal means the
    pre-move crash case — recovery must roll it back, not abort every
    remaining group with JSONDecodeError; leftover *.json.tmp staging
    files sweep the same way."""
    import json

    from pyspark.sql import functions as F

    from db_cdc_poc_spark.operators.maintenance import recover_compaction

    path = tmp_path / "tbl"
    spark.range(50).selectExpr("id", "id % 5 AS v").repartition(2).write.parquet(
        str(path)
    )
    files = sorted(p.name for p in path.glob("*.parquet"))

    # torn journal (crash mid-write on the pre-fix writer)
    (path / ".compact-journal-0-aa.json").write_text('{"members": ["x", ')
    # pre-commit temp journal (crash before the rename on the fixed writer)
    (path / ".compact-journal-1-bb.json.tmp").write_text("{}")
    # a healthy forward journal BEHIND them alphabetically — the old
    # code never reached it (JSONDecodeError aborted the loop)
    members = files[:2]
    new_name = "compact-2-cc.parquet"
    spark.read.parquet(*[str(path / m) for m in members]).coalesce(1).write.parquet(
        str(tmp_path / "stage")
    )
    [part] = list((tmp_path / "stage").glob("part-*.parquet"))
    part.rename(path / new_name)
    (path / ".compact-journal-2-cc.json").write_text(
        json.dumps({"members": members, "new_file": new_name})
    )

    res = recover_compaction(str(path))
    assert res == {"rolled_forward": 1, "rolled_back": 2, "members_removed": 2}
    assert spark.read.parquet(str(path)).count() == 50
    assert list(path.glob(".compact-journal-*")) == []


def test_apply_changes_full_tie_is_deterministic(spark):
    """The round-10 property sweep's counterexample, pinned explicitly:
    an upsert and a delete on one key with IDENTICAL (sequence,
    tie_breaker) values. The old ordering was partial, so max_by
    resolved the tie by partition/arrival order — the key's survival
    flipped run-to-run. The ordering is now total (remaining payload
    columns appended: here `op`, where 'u' > 'd'), so the upsert wins,
    deterministically."""
    from db_cdc_poc_spark.operators.cdc import apply_changes

    rows = [(0, 0, "u", 0), (0, 0, "d", 0)]
    for _ in range(3):  # stable across repeated plans
        df = spark.createDataFrame(rows, "key long, seq long, op string, val long")
        got = {
            r.key: (r.seq, r.val)
            for r in apply_changes(
                df,
                keys="key",
                sequence_by="seq",
                apply_as_deletes="op = 'd'",
                except_columns=["op"],
                tie_breakers="val",
            ).collect()
        }
        assert got == {0: (0, 0)}
