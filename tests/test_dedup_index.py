"""Streaming LSH dedup index: batch-size-invariant decisions, planted
duplicate rejection, append-only state growth."""

from __future__ import annotations


from pyspark.sql import functions as F

from db_cdc_poc_spark.sources.testdata import load_table
from db_cdc_poc_spark.streaming.dedup_index import StreamingDedupIndex

from .conftest import SF_DIR


def _index(tmp_path, tmp_suffix: str = "") -> StreamingDedupIndex:
    return StreamingDedupIndex(
        str(tmp_path / f"lshidx{tmp_suffix}"),
        threshold=0.5,
        num_buckets=8,
    )


def _decide(idx: StreamingDedupIndex, batches) -> dict[int, tuple[bool, int]]:
    out: dict[int, tuple[bool, int]] = {}
    for b in batches:
        for r in idx.process_batch(b).collect():
            out[r.id] = (r.is_novel, r.n_matches)
    return out


def test_multi_batch_equals_single_batch(spark, tmp_path):
    """Cutting the same id-ordered stream into 1 vs 3 micro-batches
    must not change any decision — the invariance the index keeps by
    indexing every seen doc, not just accepted ones."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    one = _decide(_index(tmp_path, "a"), [docs])
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cuts = [ids[: len(ids) // 3], ids[len(ids) // 3 : 2 * len(ids) // 3], ids[2 * len(ids) // 3 :]]
    three = _decide(
        _index(tmp_path, "b"),
        [docs.filter(F.col("doc_id").isin(c)) for c in cuts],
    )
    assert one == three
    # the fixture plants near-dup pairs, so some doc must be rejected
    assert any(not novel for novel, _ in one.values())
    assert any(novel for novel, _ in one.values())


def test_planted_duplicate_across_batches_rejected(spark, tmp_path):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    b1 = spark.createDataFrame(
        [(1, base), (2, "completely different first-batch content with many words here")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(10, base), (11, "novel second-batch document that matches nothing at all")],
        "doc_id long, text string",
    )
    idx = _index(tmp_path, "c")
    first = {r.id: r.is_novel for r in idx.process_batch(b1).collect()}
    second = {r.id: r.is_novel for r in idx.process_batch(b2).collect()}
    assert first == {1: True, 2: True}
    assert second == {10: False, 11: True}


def test_within_batch_smaller_id_wins(spark, tmp_path):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    b = spark.createDataFrame(
        [(5, base), (3, base), (9, "unrelated text with nothing shared at all whatsoever")],
        "doc_id long, text string",
    )
    out = {r.id: r.is_novel for r in _index(tmp_path, "d").process_batch(b).collect()}
    assert out == {3: True, 5: False, 9: True}


def test_index_state_grows_and_probe_stays_keyed(spark, tmp_path):
    idx = _index(tmp_path, "e")
    b1 = spark.createDataFrame(
        [(1, "first document with enough words to shingle properly today")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(2, "second document also with enough words to shingle properly")],
        "doc_id long, text string",
    )
    idx.process_batch(b1)
    state1 = idx.state.state_for(spark)
    n1 = state1.count()
    idx.process_batch(b2)
    state2 = idx.state.state_for(spark)
    # append-only: every batch adds its band rows (bands per doc) to
    # the NARROW band relation; signatures live once per doc
    assert n1 == idx.bands
    assert state2.count() == 2 * idx.bands
    assert set(state2.columns) == {"band_id", "band_hash", "id"}
    sigs = idx.sigs.state_for(spark)
    assert sigs.count() == 2
    assert set(sigs.columns) == {"id", "sig"}
    # LSM compaction: content identical, chains folded to one version
    assert idx.compact(spark)["bands_buckets"] > 0
    after = idx.state.state_for(spark)
    assert after.count() == 2 * idx.bands
    assert idx.compact(spark) == {"bands_buckets": 0, "sig_buckets": 0}


def test_string_ids_work(spark, tmp_path):
    """Doc ids need only be orderable — content-hash string ids work."""
    base = "shared sentence with plenty of tokens to shingle and band today"
    b1 = spark.createDataFrame(
        [("docA", base), ("docB", "unrelated first content with different words entirely")],
        "doc_id string, text string",
    )
    b2 = spark.createDataFrame([("docC", base)], "doc_id string, text string")
    idx = _index(tmp_path, "s")
    first = {r.id: r.is_novel for r in idx.process_batch(b1).collect()}
    second = {r.id: r.is_novel for r in idx.process_batch(b2).collect()}
    assert first == {"docA": True, "docB": True}
    assert second == {"docC": False}


def test_decisions_never_materialize_on_driver(spark, monkeypatch, tmp_path):
    """The per-batch decision path must stay distributed: every driver
    collect inside process_batch is batch-bounded routing metadata —
    (bucket, key-hash) pairs for Bloom pruning and bucket routing —
    never decision rows, document text, or signature payloads."""
    # patch the concrete class (pyspark.sql.DataFrame is an ABC in 4.x)
    from pyspark.sql.classic.dataframe import DataFrame

    collected: list[list] = []
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        collected.append(rows)
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    idx = _index(tmp_path, "m")
    n_docs = 20
    b = spark.createDataFrame(
        [(i, f"document number {i} with enough distinct words to shingle nicely") for i in range(n_docs)],
        "doc_id long, text string",
    )
    result = idx.process_batch(b)
    # collects: band (bucket, hash) routing + sig (bucket, hash)
    # routing (+ candidate key routing on later batches) — each
    # bounded by bands x |batch| rows of at most 2 integer columns
    assert 1 <= len(collected) <= 4
    for rows in collected:
        assert len(rows) <= n_docs * idx.bands
        for r in rows:
            assert len(r) <= 2
            assert all(isinstance(v, int) for v in r)  # no text/sig payloads
    # decisions come back as a distributed (checkpointed) DataFrame
    monkeypatch.undo()
    assert result.count() == n_docs


def test_index_survives_restart(spark, tmp_path):
    """A new StreamingDedupIndex on the same path sees the persisted
    band state: duplicates of pre-restart docs are still rejected."""
    base = "persistent corpus sentence with sufficient tokens for banding here"
    path = str(tmp_path / "idx")
    first = StreamingDedupIndex(path, threshold=0.5, num_buckets=8)
    out1 = {r.id: r.is_novel for r in first.process_batch(
        spark.createDataFrame([(1, base)], "doc_id long, text string")).collect()}
    assert out1 == {1: True}
    # simulate process restart: fresh object, same state directory
    resumed = StreamingDedupIndex(path, threshold=0.5, num_buckets=8)
    out2 = {r.id: r.is_novel for r in resumed.process_batch(
        spark.createDataFrame(
            [(2, base), (3, "entirely novel post-restart content with new words")],
            "doc_id long, text string",
        )).collect()}
    assert out2 == {2: False, 3: True}


def test_auto_compaction_cadence_preserves_decisions(spark, tmp_path):
    """compact_every folds the LSM chains mid-stream; decisions and
    state content must be unaffected (same invariance contract as
    batch cutting)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cuts = [ids[i::4] for i in range(4)]  # 4 batches
    compacting = StreamingDedupIndex(
        str(tmp_path / "lshidx_cc"), threshold=0.5,
        num_buckets=8, compact_every=2,
    )
    auto = {}
    for c in cuts:
        for r in compacting.process_batch(
            docs.filter(F.col("doc_id").isin(sorted(c)))
        ).collect():
            auto[r.id] = (r.is_novel, r.n_matches)
    # decisions depend on batch CONTENT order, so compare against a
    # same-cut plain index rather than the different-cut run above
    plain_idx = _index(tmp_path, "nc2")
    want = {}
    for c in cuts:
        for r in plain_idx.process_batch(
            docs.filter(F.col("doc_id").isin(sorted(c)))
        ).collect():
            want[r.id] = (r.is_novel, r.n_matches)
    assert auto == want
    # cadence ran: chains were folded at least once mid-stream
    assert compacting._batches_since_compact < 4


def test_legacy_layout_detected_and_migrated(spark, tmp_path):
    """An index written by the pre-normalization layout (sig column ON
    band rows, no _sigs table) must refuse to probe — silently judging
    every re-sent doc novel is the failure mode — and migrate_legacy
    must restore matching."""
    import pytest

    base = "the quick brown fox jumps over the lazy dog again and again today"
    b1 = spark.createDataFrame(
        [(1, base), (2, "completely different first-batch content with many words here")],
        "doc_id long, text string",
    )
    # steal correctly-shaped band rows from a modern index, then lay
    # them down in the LEGACY shape: sig carried on every band row
    modern = _index(tmp_path, "mig_src")
    modern.process_batch(b1)
    legacy_rows = (
        modern.state.state_for(spark)
        .join(modern.sigs.state_for(spark), "id")
        .select("band_id", "band_hash", "id", "sig")
    )
    legacy_path = str(tmp_path / "lshidx_legacy")
    seed = StreamingDedupIndex(legacy_path, threshold=0.5, num_buckets=8)
    seed.state.append_batch(legacy_rows)

    reopened = StreamingDedupIndex(legacy_path, threshold=0.5, num_buckets=8)
    dup = spark.createDataFrame([(10, base)], "doc_id long, text string")
    with pytest.raises(RuntimeError, match="legacy"):
        reopened.process_batch(dup)

    assert reopened.migrate_legacy(spark) == 2  # one sig per document
    dec = {r.id: r.is_novel for r in reopened.process_batch(dup).collect()}
    assert dec[10] is False  # the planted duplicate matches again
    assert reopened.migrate_legacy(spark) == 0  # idempotent
    assert "sig" not in reopened.state.state_for(spark).columns


def test_bands_without_sigs_raises(spark, tmp_path):
    """Band chains with an empty signature table (e.g. the pre-fix
    bands-first crash window) must raise, not silently drop every
    candidate in the inner sig join."""
    import pytest

    base = "the quick brown fox jumps over the lazy dog again and again today"
    src = _index(tmp_path, "orphan_src")
    src.process_batch(
        spark.createDataFrame([(1, base)], "doc_id long, text string")
    )
    path = str(tmp_path / "lshidx_orphan")
    torn = StreamingDedupIndex(path, threshold=0.5, num_buckets=8)
    torn.state.append_batch(
        src.state.state_for(spark).select("band_id", "band_hash", "id")
    )
    with pytest.raises(RuntimeError, match="no signature table"):
        torn.process_batch(
            spark.createDataFrame([(10, base)], "doc_id long, text string")
        )


def test_compaction_cadence_survives_restart(spark, tmp_path):
    """The cadence keys off the DISK delta-chain length, not just the
    in-memory batch counter: a crash-looping ingester restarting every
    few triggers would otherwise defer compaction forever (the counter
    dies with the process), and crashed-and-re-fired triggers append
    deltas the counter never saw. A fresh instance over long chains
    must compact on its next batch."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cuts = [ids[i::4] for i in range(4)]
    path = str(tmp_path / "lshidx_restart")
    # "process 1": compact_every=None -> pure appends, chains grow
    p1 = StreamingDedupIndex(path, threshold=0.5, num_buckets=8, compact_every=None)
    want = {}
    for c in cuts[:3]:
        for r in p1.process_batch(
            docs.filter(F.col("doc_id").isin(sorted(c)))
        ).collect():
            want[r.id] = (r.is_novel, r.n_matches)
    assert p1._max_delta_chain() >= 3
    # "restarted process": fresh instance, counter back at 0, cadence 3
    p2 = StreamingDedupIndex(path, threshold=0.5, num_buckets=8, compact_every=3)
    assert p2._batches_since_compact == 0
    for r in p2.process_batch(
        docs.filter(F.col("doc_id").isin(sorted(cuts[3])))
    ).collect():
        want[r.id] = (r.is_novel, r.n_matches)
    # disk-derived cadence fired at the batch head: chains folded back
    # to one snapshot plus the new batch's single delta
    assert p2._max_delta_chain() <= 1
    # and decisions match a never-compacted same-cut run
    plain = _index(tmp_path, "restart_plain")
    got = _decide(
        plain, [docs.filter(F.col("doc_id").isin(sorted(c))) for c in cuts]
    )
    assert got == want
