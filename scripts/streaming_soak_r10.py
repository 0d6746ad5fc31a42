"""2x dedup-index soak (VERDICT r9 ask #3 evidence): per-trigger probe
walls must grow SUBLINEARLY in index size.

The round-9 soak left one creep: probe cost was O(index bytes) per
dense trigger (~+0.5 s/trigger at 93 MB). Round 10 added the Bloom
front (streaming/bloom.py) + candidate-driven sig fetch; this soak
measures the claim at 2x the round-9 corpus:

40 triggers over sf1 documents (50k docs/round, 200k INDEXED docs —
every seen doc enters the index, duplicate or not):

  round A  triggers  1-10: the corpus, novel
  round B  triggers 11-20: round A re-sent under fresh ids (dense
           duplicate probes — the worst case for the Bloom front)
  round C  triggers 21-30: word-REVERSED texts under fresh ids —
           genuinely novel content (3-shingles disjoint from A), the
           best case (Blooms prune almost everything)
  round D  triggers 31-40: round C re-sent (dense duplicates again,
           now against a 3x larger index than round B probed)

Asserts:
  (a) duplicate recognition: >= 99% of rounds B and D judged dups;
      rounds A and C >= 99% novel (reversed text IS novel);
  (b) SUBLINEAR probe walls: median wall of the LAST dense-dup
      stretch (round D) <= 1.5x the median of the FIRST (round B),
      while the index it probes is ~3x larger — and novel-round walls
      (C) stay <= 1.5x novel-round walls (A) at 2x index;
  (c) index accounting exact: rows == 16 bands x shingled docs seen;
  (d) compaction cadence (compact_every=16) exercises the Bloom
      union path mid-run and decisions stay correct after it.

Writes STREAMING_SOAK_sf1_r10.txt.

Usage: SPARK_GRAFT_SOAK_DIR=.benchdata/sf1.0 python scripts/streaming_soak_r10.py
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
from db_cdc_poc_spark.streaming.ephemeral import drain_foreach_batch  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SOAK_DIR", ".benchdata/sf1.0")
OUT = Path("STREAMING_SOAK_sf1_r10.txt")
BANDS = 16
CHUNKS = 10


def dir_stats(path: Path) -> tuple[int, int]:
    total = sum(f.stat().st_size for f in path.rglob("*") if f.is_file())
    versions = len([d for d in path.rglob("v_*") if d.is_dir()])
    return total, versions


def median(xs: list[float]) -> float:
    s = sorted(xs)
    return s[len(s) // 2]


def soak(work: Path) -> bool:
    """Soak with all state under ``work``; write the report, return ok."""
    from db_cdc_poc_spark.operators.text import whitespace_token_count, whitespace_tokens
    from db_cdc_poc_spark.streaming.dedup_index import StreamingDedupIndex

    spark = get_spark(app_name="dedup-soak-r10")
    lines = [f"2x dedup-index soak over {SF_DIR} (Bloom-front probe amortization)"]

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    n_docs = docs.count()
    n_shingled = docs.filter(whitespace_token_count("text") >= 3).count()
    chunk = (n_docs // CHUNKS) + 1
    lines.append(f"docs={n_docs} shingled={n_shingled} chunk~{chunk}")

    reversed_docs = docs.select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.array_join(F.reverse(whitespace_tokens("text")), " ").alias("text"),
    )
    rounds = [
        ("A_novel", docs, 0),
        ("B_resend", docs.withColumn("doc_id", F.col("doc_id") + 10_000_000), 10_000_000),
        ("C_reversed", reversed_docs, 0),
        ("D_resend_rev", reversed_docs.withColumn("doc_id", F.col("doc_id") + 10_000_000), 10_000_000),
    ]

    staged = work / "docs"
    for _, rdf, off in rounds:
        base = rdf.withColumn(
            "__c", F.floor((F.col("doc_id") % 10_000_000) / chunk)
        )
        for c in range(CHUNKS):
            base.filter(F.col("__c") == c).drop("__c").coalesce(1).write.mode(
                "append"
            ).parquet(str(staged))

    idx = StreamingDedupIndex(
        str(work / "index"),
        num_buckets=32,
        compact_every=16,
    )
    decisions: list = []
    walls: list[float] = []
    sizes: list[int] = []
    per_trigger: list[str] = []

    fn = idx.foreach_batch(sink=decisions, max_rows=250_000)

    def timed_fn(batch_df, epoch_id):
        t0 = time.monotonic()
        fn(batch_df, epoch_id)
        walls.append(time.monotonic() - t0)
        b1, _ = dir_stats(Path(str(idx.state.path)))
        b2, _ = dir_stats(Path(str(idx.sigs.path)))
        sizes.append(b1 + b2)
        per_trigger.append(
            f"  trigger {len(walls):>2}: wall={walls[-1]:5.1f}s "
            f"index_bytes={sizes[-1]:>11}"
        )
        print(per_trigger[-1], flush=True)

    drain_foreach_batch(spark, str(staged), timed_fn, "soak10", max_files_per_trigger=1)
    lines.extend(per_trigger)
    ok = True

    # (a) decision correctness per round
    by_id = {r.id: r.is_novel for r in decisions}
    shingled_ids = {
        r.doc_id
        for r in docs.filter(whitespace_token_count("text") >= 3)
        .select("doc_id")
        .collect()
    }
    rates = {}
    for rname, base_off, want_novel in (
        ("A_novel", 0, True),
        ("B_resend", 10_000_000, False),
        ("C_reversed", 20_000_000, True),
        ("D_resend_rev", 30_000_000, False),
    ):
        ids = [i + base_off for i in shingled_ids]
        got = [by_id[i] for i in ids if i in by_id]
        frac = sum(1 for g in got if g == want_novel) / max(1, len(got))
        rates[rname] = frac
        lines.append(
            f"{rname}: {'novel' if want_novel else 'dup'}-rate={frac:.4f} over {len(got)}"
        )
        # the fixture PLANTS near-dup pairs, so novel rounds sit below
        # 1.0 by the planted fraction — gate them loosely and compare
        # C against A below; dup (re-send) rounds gate hard at 99%
        gate = 0.99 if not want_novel else 0.90
        if frac < gate:
            ok = False
            lines.append(f"ASSERT FAIL: {rname} rate {frac:.4f} < {gate}")
    # C mirrors A's planted-dup structure word-reversed: its novel
    # rate must track A's (reversal must NOT look like a dup of A)
    if rates["C_reversed"] < rates["A_novel"] - 0.02:
        ok = False
        lines.append(
            f"ASSERT FAIL: reversed round novel-rate {rates['C_reversed']:.4f} "
            f"fell below A's {rates['A_novel']:.4f} - 0.02"
        )

    # (b) sublinear probe walls: dense-dup rounds B (11-20) vs D
    # (31-40); novel rounds A (1-10, skip warmup 1-2) vs C (21-30)
    wB, wD = median(walls[10:20]), median(walls[30:40])
    wA, wC = median(walls[2:10]), median(walls[20:30])
    sB, sD = sizes[19], sizes[39]
    lines.append(
        f"dense-dup walls: B={wB:.1f}s (index {sizes[10]>>20} MB) "
        f"D={wD:.1f}s (index {sizes[30]>>20} MB); size x{sizes[30]/max(1,sizes[10]):.1f}"
    )
    lines.append(f"novel walls: A={wA:.1f}s C={wC:.1f}s; final bytes={sD>>20} MB")
    if wD > 1.5 * wB:
        ok = False
        lines.append(f"ASSERT FAIL: dense walls {wD:.1f} > 1.5x {wB:.1f}")
    if wC > 1.5 * wA:
        ok = False
        lines.append(f"ASSERT FAIL: novel walls {wC:.1f} > 1.5x {wA:.1f}")

    # (c) exact accounting: every seen doc (novel or dup) indexed once
    live = idx.state.state_for(spark)
    n_rows = live.count() if live is not None else 0
    rev_shingled = reversed_docs.filter(
        whitespace_token_count("text") >= 3
    ).count()
    want = BANDS * (2 * n_shingled + 2 * rev_shingled)
    lines.append(f"index rows={n_rows} want={want}")
    if n_rows != want:
        ok = False
        lines.append("ASSERT FAIL: index row accounting leaked")

    # (d) post-run compaction preserves content (Bloom union path ran
    # mid-stream at the 16-trigger cadence; fold the tail too)
    res = idx.compact(spark)
    n_after = idx.state.state_for(spark).count()
    lines.append(f"compact: {res}; rows after={n_after}")
    if n_after != n_rows:
        ok = False
        lines.append("ASSERT FAIL: compaction changed content")

    lines.append("ALL PASS" if ok else "FAILURES PRESENT")
    OUT.write_text("\n".join(lines) + "\n")
    print(lines[-1])
    return ok


def main() -> None:
    with tempfile.TemporaryDirectory(prefix="soak10_") as work:
        ok = soak(Path(work))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
