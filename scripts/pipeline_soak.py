"""Composed end-to-end pipeline soak (VERDICT r9 ask #8).

The pieces are proven separately (dedup-index soak, CDC soak, q42
incremental gold); this drives the COMPOSED reference pipeline —
replay source -> streaming dedup -> CDC apply -> incremental gold —
under ``PipelineRunner`` for N triggers at sf1, asserting at EVERY
trigger:

1. **dedup**: every injected content-duplicate (same text re-sent
   under a fresh doc_id — the re-crawl shape) is flagged duplicate and
   never reaches silver; genuinely novel docs and revisions pass.
2. **silver == batch recompute**: the CdcTarget state equals
   ``apply_changes`` over the union of every deduped batch so far —
   the multi-trigger incremental path must be indistinguishable from
   the one-shot batch apply.
3. **gold == batch recompute**: the delta-maintained per-source
   aggregate (ivm.delta_aggregate over Debezium-shaped changes derived
   per trigger — O(changes), never O(base)) equals a full groupBy over
   the silver table.
4. **bounded state**: version-dir counts stay within
   buckets x keep_versions after compaction; bytes and walls recorded
   per trigger.

Pipeline shape per trigger (PipelineRunner cycle over a TableRegistry,
triggers 'continuous', topology bronze -> dedup_novel -> silver ->
gold — the engine's @dlt.table graph):

  bronze       next replay chunk of documents (+ injected dups and
               revisions), expectation-guarded (doc_id/text NOT NULL)
  dedup_novel  StreamingDedupIndex.process_batch decisions joined
               back; duplicates dropped
  silver       CdcTarget.upsert_batch(novel); current() view
  gold         ChangelogFoldedAggregate: delta_aggregate folded with
               the CdcTarget's OWN applied-state delta (changes_since
               against the last folded commit, keys_filter = the
               trigger's batch keys) — the crash-safe default feed; an
               injected re-fire at trigger 7 must leave gold identical

Writes PIPELINE_SOAK_sf1.txt.

Usage: SPARK_GRAFT_SOAK_DIR=.benchdata/sf1.0 python scripts/pipeline_soak.py
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from db_cdc_poc_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SOAK_DIR", ".benchdata/sf1.0")
OUT = Path("PIPELINE_SOAK_sf1.txt")
N_TRIGGERS = 12
REVISION_LAG = 5  # cycle t revises a slice of cycle t-REVISION_LAG's docs


def dir_stats(path: Path) -> tuple[int, int]:
    total = sum(f.stat().st_size for f in path.rglob("*") if f.is_file())
    versions = len([d for d in path.rglob("v_*") if d.is_dir()])
    return total, versions


def soak(work: Path) -> bool:
    """Soak with all state under ``work``; write the report, return ok."""
    from db_cdc_poc_spark.operators.cdc import apply_changes
    from db_cdc_poc_spark.operators.text import whitespace_token_count
    from db_cdc_poc_spark.plans.registry import Expectation, TableRegistry
    from db_cdc_poc_spark.plans.runner import PipelineRunner
    from db_cdc_poc_spark.streaming.cdc import CdcTarget
    from db_cdc_poc_spark.streaming.dedup_index import StreamingDedupIndex
    from db_cdc_poc_spark.streaming.gold import ChangelogFoldedAggregate

    spark = get_spark(app_name="pipeline-soak")
    lines: list[str] = [f"composed pipeline soak over {SF_DIR}, {N_TRIGGERS} triggers"]

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text", "source", "n_chars")
        .filter(whitespace_token_count("text") >= 3)  # shingleable only
    )
    n_docs = docs.count()
    chunk = (n_docs // N_TRIGGERS) + 1
    lines.append(f"docs={n_docs} chunk~{chunk}")

    idx = StreamingDedupIndex(
        str(work / "lsh"), threshold=0.5, num_buckets=16, compact_every=4
    )
    target = CdcTarget(
        str(work / "silver"), keys="doc_id", sequence_by="seq", num_buckets=16
    )

    reg = TableRegistry(spark)
    state = {"cycle": -1, "gold": None, "failures": []}

    base_chunks = docs.withColumn("__c", F.floor(F.col("doc_id") / chunk))

    @reg.table(
        tier="bronze",
        trigger="continuous",
        expect=[
            Expectation("doc_id_set", "doc_id IS NOT NULL", action="fail"),
            Expectation("text_set", "text IS NOT NULL", action="fail"),
        ],
    )
    def bronze():
        t = state["cycle"]
        cur = base_chunks.filter(F.col("__c") == t).drop("__c")
        cur = cur.withColumn("seq", F.lit(t).cast("long"))
        # re-crawl shape: cycle t>=1 re-sends a deterministic slice of
        # cycle t-1's docs under fresh ids — same text, must be dropped
        if t >= 1:
            dup = (
                base_chunks.filter(
                    (F.col("__c") == t - 1) & (F.col("doc_id") % 7 == 0)
                )
                .drop("__c")
                .withColumn("doc_id", F.col("doc_id") + 50_000_000)
                .withColumn("seq", F.lit(t).cast("long"))
            )
            cur = cur.unionByName(dup)
        # revision shape: cycle t revises a slice of an OLD chunk —
        # same doc_id, new text/chars/seq; novel content, must upsert
        if t >= REVISION_LAG:
            rev = (
                base_chunks.filter(
                    (F.col("__c") == t - REVISION_LAG)
                    & (F.col("doc_id") % 11 == 0)
                )
                .drop("__c")
                .withColumn(
                    "text",
                    F.concat(
                        F.col("text"),
                        F.lit(f" revised edition number {t} of this work"),
                    ),
                )
                .withColumn("n_chars", F.length("text").cast("int"))
                .withColumn("seq", F.lit(t).cast("long"))
            )
            cur = cur.unionByName(rev)
        return cur

    @reg.table(tier="silver", trigger="continuous")
    def dedup_novel():
        b = reg.read("bronze")
        decisions = idx.process_batch(
            b.select(F.col("doc_id"), "text")
        ).select(F.col("id").alias("doc_id"), "is_novel")
        return b.join(decisions, "doc_id").filter("is_novel").drop("is_novel")

    @reg.table(tier="silver", trigger="continuous")
    def silver():
        novel = reg.read("dedup_novel")
        target.upsert_batch(novel)
        return target.current(spark)

    # gold fold feed = the CdcTarget's OWN applied-state delta
    # (changes_since), NOT a batch-derived changelog — the crash-safe
    # default (VERDICT r10 ask #2; scripts/crash_soak.py proved the
    # operator, this soak proves the composed PRODUCTION path)
    # max_cols=["seq"] exercises the delta_minmax wiring (VERDICT r11
    # ask #6) in the composed path: the reference's gold carries a MAX
    # (date_time) next to its sums, and the fold must keep both exact
    # across triggers and re-fires
    gold_fold = ChangelogFoldedAggregate(
        target, group_keys=["source"], measures=["n_chars"], max_cols=["seq"]
    )

    @reg.table(tier="gold", trigger="continuous")
    def gold():
        reg.read("silver")  # ordering: upsert must have happened
        # keys_filter = the trigger's batch keys: keeps the state diff
        # batch-bounded (broadcast semi-prune), never state-bounded
        batch_keys = reg.read("bronze").select("doc_id").distinct()
        new_gold = gold_fold.fold_trigger(spark, batch_keys)
        state["gold"] = new_gold
        return new_gold

    runner = PipelineRunner(reg, root=str(work / "tables"))

    REFIRE_TRIGGER = 7  # injected re-fire: same cycle runs twice

    seen_dirs: list[str] = []
    all_pass = True
    for t in range(N_TRIGGERS):
        state["cycle"] = t
        t0 = time.monotonic()
        refreshed = runner.run_cycle()
        wall = time.monotonic() - t0
        assert set(refreshed) == {"bronze", "dedup_novel", "silver", "gold"}

        # keep this cycle's deduped batch for the batch-recompute legs
        d = work / f"deduped_{t:02d}"
        spark.read.parquet(str(work / "tables" / "dedup_novel")).write.mode(
            "overwrite"
        ).parquet(str(d))
        seen_dirs.append(str(d))

        checks = []

        if t == REFIRE_TRIGGER:
            # injected re-fire: the SAME trigger runs again (the crash-
            # recovery shape — an orchestrator re-delivers a batch).
            # The index re-decides (everything now duplicates), the
            # upsert is empty/idempotent, changes_since yields an EMPTY
            # delta, and gold must come out byte-identical.
            gold_before = {
                (r.source, r.n, r.n_chars, r.seq)
                for r in state["gold"].collect()
            }
            runner.run_cycle()
            d2 = work / f"deduped_{t:02d}_refire"
            spark.read.parquet(
                str(work / "tables" / "dedup_novel")
            ).write.mode("overwrite").parquet(str(d2))
            seen_dirs.append(str(d2))
            gold_after = {
                (r.source, r.n, r.n_chars, r.seq)
                for r in state["gold"].collect()
            }
            checks.append(
                ("refire_noop", gold_before == gold_after,
                 f"gold_rows={len(gold_after)}")
            )

        # 1. dedup: no re-sent (id >= 50M) doc may reach silver-input
        leaked = (
            spark.read.parquet(str(d))
            .filter(F.col("doc_id") >= 50_000_000)
            .count()
        )
        checks.append(("dup_leak_0", leaked == 0, f"leaked={leaked}"))

        # 2. silver == one-shot batch apply over all deduped batches
        full = spark.read.parquet(*seen_dirs)
        cols = ["doc_id", "text", "source", "n_chars", "seq"]
        want_silver = apply_changes(
            full, keys="doc_id", sequence_by="seq", tie_breakers="n_chars"
        ).select(*cols)
        got_silver = target.current(spark).select(*cols)
        n_want = want_silver.count()
        diff = (
            want_silver.exceptAll(got_silver).count()
            + got_silver.exceptAll(want_silver).count()
        )
        checks.append(
            ("silver_eq_batch", diff == 0, f"rows={n_want} diff={diff}")
        )

        # 3. gold == full recompute over silver
        want_gold = got_silver.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.max("seq").alias("seq"),
        )
        got_gold = state["gold"].select("source", "n", "n_chars", "seq")
        gdiff = (
            want_gold.exceptAll(got_gold).count()
            + got_gold.exceptAll(want_gold).count()
        )
        checks.append(("gold_eq_batch", gdiff == 0, f"diff={gdiff}"))

        # 4. bounded state
        stats = {}
        for name, tbl in (
            ("lsh", idx.state.path),
            ("sigs", idx.sigs.path),
            ("silver", target.path),
        ):
            by, nv = dir_stats(Path(tbl))
            stats[name] = (by, nv)
        # structural LSM bound: keep_versions full snapshots per bucket
        # plus deltas from up to THREE compaction windows (pre-snapshot
        # deltas linger until the NEXT compaction cycle prunes them, so
        # dir counts sawtooth with period 2 x compact_every)
        cap = idx.state.num_buckets * (
            idx.state.keep_versions + 3 * idx.compact_every
        )
        bounded = all(nv <= cap for _, nv in stats.values())
        checks.append(
            ("state_bounded", bounded, f"cap={cap} " + " ".join(
                f"{k}={v[1]}dirs/{v[0]//1024}KB" for k, v in stats.items()))
        )

        ok = all(c[1] for c in checks)
        all_pass &= ok
        line = (
            f"trigger {t:02d}: wall={wall:6.1f}s "
            + " ".join(f"{n}={'PASS' if p else 'FAIL'}({m})" for n, p, m in checks)
        )
        lines.append(line)
        print(line, flush=True)

    lines.append("ALL PASS" if all_pass else "FAILURES PRESENT")
    OUT.write_text("\n".join(lines) + "\n")
    print(lines[-1])
    return all_pass


def main() -> None:
    with tempfile.TemporaryDirectory(prefix="pipeline_soak_") as work:
        ok = soak(Path(work))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
