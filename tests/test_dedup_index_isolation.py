"""Concurrent-reader isolation for the streaming dedup index (VERDICT
r10 ask #5): a reader that opens the index MID-COMMIT — between the
sigs and bands appends, or between the two tables' compaction swaps —
sees a consistent committed snapshot.

Why the protocol guarantees it (the contract ARCHITECTURE.md states):
version dirs are immutable and commit by rename, readers union each
bucket's snapshot+delta chain independently, and the write order is
sigs-BEFORE-bands — so the only mid-commit artifact a reader can see
is an ORPHAN SIG (a sig row no committed band row references), which
by construction can never become a candidate. A band row whose sig is
missing — the silent-loss direction — cannot exist at any instant.
Compaction swaps are content-preserving per bucket (snapshot = fold of
its sources, committed by rename before sources are pruned), so a
reader interleaved anywhere across the two tables' compactions reads
the same logical content.

These tests drive a SECOND index handle (same path — a separate
"process") through the read path at injected interleave points, the
monkeypatch pattern of test_round10_fixes.py's crash-window tests.
"""

from __future__ import annotations


from pyspark.sql import functions as F

from db_cdc_poc_spark.streaming.dedup_index import StreamingDedupIndex

TEXTS = {
    1: "alpha beta gamma delta epsilon zeta eta theta",
    2: "one two three four five six seven eight nine",
    3: "red orange yellow green blue indigo violet colors",
    4: "north south east west up down left right center",
    5: "spark catalyst tungsten shuffle broadcast partition plan",
}


def _docs(spark, items):
    return spark.createDataFrame(list(items), "doc_id long, text string")


def _reader_matches(spark, path, probe_docs):
    """Open a FRESH handle on the committed index state and run the
    read path only (bands -> Bloom-pruned candidate fetch -> sig
    screen). Returns {probe_id: set(match_ids)}."""
    rd = StreamingDedupIndex(path, threshold=0.5, num_buckets=4, compact_every=None)
    banded = rd._bands(probe_docs)
    index = rd.state.state_for(spark)
    rd._check_layout(index)
    out: dict[int, set[int]] = {
        int(r.doc_id): set() for r in probe_docs.collect()
    }
    for r in rd._index_matches(spark, banded, index).collect():
        out[int(r.id)].add(int(r.match_id))
    return out


def test_reader_between_sigs_and_bands_sees_committed_snapshot(
    spark, monkeypatch
, tmp_path):
    """Interleave point: batch 2's sigs are committed, its bands are
    not. The reader must (a) still match docs against batch 1 — the
    committed snapshot, (b) see batch 2 as entirely absent (its orphan
    sigs never surface as candidates), (c) raise nothing."""
    path = str(tmp_path / "lsh")
    idx = StreamingDedupIndex(path, threshold=0.5, num_buckets=4, compact_every=None)
    idx.process_batch(_docs(spark, [(1, TEXTS[1]), (2, TEXTS[2])]))

    probe = _docs(
        spark,
        [
            (201, TEXTS[2]),  # dup of committed doc 2 -> must match
            (202, TEXTS[3]),  # dup of MID-COMMIT doc 102 -> must NOT
            (203, TEXTS[5]),  # novel
        ],
    )
    observed = {}
    real_append = idx.state.append_batch

    def append_with_reader(batch):
        # sigs for batch 2 are on disk at this instant; bands are not
        observed["mid"] = _reader_matches(spark, path, probe)
        return real_append(batch)

    monkeypatch.setattr(idx.state, "append_batch", append_with_reader)
    idx.process_batch(_docs(spark, [(102, TEXTS[3]), (103, TEXTS[4])]))
    monkeypatch.undo()

    assert observed["mid"] == {201: {2}, 202: set(), 203: set()}
    # once batch 2 fully commits, the same probe sees 102
    after = _reader_matches(spark, path, probe)
    assert after == {201: {2}, 202: {102}, 203: set()}


def test_reader_between_band_and_sig_compaction_swaps(spark, monkeypatch, tmp_path):
    """Interleave point: the band table's compaction snapshot has
    swapped in, the sig table's has not. Content must be identical to
    the pre-compaction read — compaction is invisible to readers."""
    path = str(tmp_path / "lsh")
    idx = StreamingDedupIndex(path, threshold=0.5, num_buckets=4, compact_every=None)
    for did, text in TEXTS.items():
        idx.process_batch(_docs(spark, [(did, text)]))

    probe = _docs(spark, [(301, TEXTS[1]), (302, TEXTS[4]), (303, "zz yy xx ww vv uu")])
    before = _reader_matches(spark, path, probe)
    band_rows_before = {
        tuple(r) for r in idx.state.state_for(spark).collect()
    }

    observed = {}
    real_snapshot = idx.sigs.snapshot

    def snapshot_with_reader(sp):
        # bands compacted, sigs still a delta chain
        observed["mid"] = _reader_matches(spark, path, probe)
        observed["mid_rows"] = {
            tuple(r) for r in idx.state.state_for(spark).collect()
        }
        return real_snapshot(sp)

    monkeypatch.setattr(idx.sigs, "snapshot", snapshot_with_reader)
    idx.compact(spark)
    monkeypatch.undo()

    assert observed["mid"] == before
    assert observed["mid_rows"] == band_rows_before
    assert _reader_matches(spark, path, probe) == before


def test_reader_mid_append_never_sees_bandrow_without_sig(spark, monkeypatch, tmp_path):
    """The invariant behind both windows, asserted directly at the
    interleave instant: every band row's id resolves to a committed
    sig row (orphans only ever point the OTHER way)."""
    path = str(tmp_path / "lsh")
    idx = StreamingDedupIndex(path, threshold=0.5, num_buckets=4, compact_every=None)
    idx.process_batch(_docs(spark, [(1, TEXTS[1])]))

    checked = {}
    real_append = idx.state.append_batch

    def check_invariant(batch):
        bands = idx.state.state_for(spark)
        sigs = idx.sigs.state_for(spark)
        band_ids = {int(r.id) for r in bands.select("id").distinct().collect()}
        sig_ids = {int(r.id) for r in sigs.select("id").distinct().collect()}
        checked["orphan_bands"] = band_ids - sig_ids
        checked["orphan_sigs"] = sig_ids - band_ids
        return real_append(batch)

    monkeypatch.setattr(idx.state, "append_batch", check_invariant)
    idx.process_batch(_docs(spark, [(2, TEXTS[2]), (3, TEXTS[3])]))
    monkeypatch.undo()

    assert checked["orphan_bands"] == set()  # the silent-loss direction
    assert checked["orphan_sigs"] == {2, 3}  # the harmless direction
    # and post-commit the orphans resolve
    bands = idx.state.state_for(spark)
    sigs = idx.sigs.state_for(spark)
    assert {int(r.id) for r in bands.select("id").distinct().collect()} == {
        int(r.id) for r in sigs.select("id").distinct().collect()
    }


def test_reader_sees_no_partial_batch_even_across_buckets(spark, monkeypatch, tmp_path):
    """A batch's band rows span several buckets; append_batch commits
    per bucket-version dir. A reader interleaved after the FIRST
    bucket's rename sees only whole committed version dirs — and any
    partially-visible batch can only mean extra MATCHES later, never a
    phantom candidate with no sig (sigs committed first)."""
    path = str(tmp_path / "lsh")
    idx = StreamingDedupIndex(path, threshold=0.5, num_buckets=4, compact_every=None)
    idx.process_batch(_docs(spark, [(1, TEXTS[1])]))

    probe = _docs(spark, [(401, TEXTS[2])])
    seen = []
    real_write = idx._band_bloom.write

    def write_with_reader(d, keys):
        # called once per created band version dir, right after its
        # rename-commit: the index is mid-append across buckets here
        seen.append(_reader_matches(spark, path, probe)[401])
        return real_write(d, keys)

    monkeypatch.setattr(idx._band_bloom, "write", write_with_reader)
    idx.process_batch(_docs(spark, [(2, TEXTS[2]), (3, TEXTS[3])]))
    monkeypatch.undo()

    assert seen, "expected at least one band version dir"
    for matches in seen:
        assert matches in (set(), {2})  # absent or fully screened — never an error
    assert _reader_matches(spark, path, probe)[401] == {2}
