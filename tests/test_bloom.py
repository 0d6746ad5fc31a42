"""Per-version-dir Bloom front (streaming/bloom.py): no false
negatives, effective pruning, union-on-compaction, torn-file safety —
and the integration claim: the dedup-index probe reads only
collision-bearing version dirs."""

from __future__ import annotations

import tempfile
from pathlib import Path

import numpy as np

from db_cdc_poc_spark.streaming.bloom import BloomFront


def _front(tmp_path: Path, m: int = 1 << 12) -> tuple[BloomFront, Path]:
    return BloomFront("_t_bloom.npz", m), Path(
        tempfile.mkdtemp(prefix="bloomt_", dir=tmp_path)
    )


def test_no_false_negatives_and_prunes_disjoint(tmp_path):
    bf, d = _front(tmp_path)
    rng = np.random.RandomState(3)
    keys = rng.randint(-(2**62), 2**62, size=500, dtype=np.int64)
    bf.write(d, keys)
    # every written key (alone and in bulk) must hit
    assert bf.might_contain_any(d, keys)
    for k in keys[:50]:
        assert bf.might_contain_any(d, np.asarray([k], dtype=np.int64))
    # a disjoint probe set is (overwhelmingly) pruned; with 500 keys in
    # 4096 bits the filter is dense, so use a roomier one for the check
    bf2, d2 = _front(tmp_path, 1 << 16)
    bf2.write(d2, keys)
    other = rng.randint(-(2**62), 2**62, size=20, dtype=np.int64)
    other = np.setdiff1d(other, keys)
    assert not bf2.might_contain_any(d2, other)
    # empty probe set can never match
    assert not bf2.might_contain_any(d2, np.empty(0, dtype=np.int64))


def test_cache_survives_dir_deletion_and_reload_fresh(tmp_path):
    bf, d = _front(tmp_path)
    keys = np.arange(100, dtype=np.int64)
    bf.write(d, keys)
    # a FRESH front (new process) reads the file back identically
    bf_new = BloomFront("_t_bloom.npz", 1 << 12)
    assert bf_new.might_contain_any(d, np.asarray([5], dtype=np.int64))
    # cached entries stay valid after the dir is pruned off disk
    import shutil

    shutil.rmtree(d)
    assert bf.might_contain_any(d, np.asarray([5], dtype=np.int64))


def test_missing_torn_and_foreign_blooms_are_unprunable(tmp_path):
    bf, d = _front(tmp_path)
    probe = np.asarray([1, 2, 3], dtype=np.int64)
    # missing file -> must read
    assert bf.might_contain_any(d, probe)
    bf2, d2 = _front(tmp_path)
    (d2 / "_t_bloom.npz").write_bytes(b"torn garbage")
    assert bf2.might_contain_any(d2, probe)
    # foreign geometry (different m) -> must read
    bf3, d3 = _front(tmp_path, 1 << 12)
    BloomFront("_t_bloom.npz", 1 << 13).write(d3, np.asarray([99], dtype=np.int64))
    assert bf3.might_contain_any(d3, probe)


def test_union_write_is_exact_or_of_sources(tmp_path):
    bf, base = _front(tmp_path, 1 << 14)
    a, b, out = base / "a", base / "b", base / "out"
    for p in (a, b, out):
        p.mkdir()
    ka = np.arange(0, 200, dtype=np.int64)
    kb = np.arange(10_000, 10_200, dtype=np.int64)
    bf.write(a, ka)
    bf.write(b, kb)
    assert bf.union_write(out, [a, b])
    assert bf.might_contain_any(out, ka[:5])
    assert bf.might_contain_any(out, kb[:5])
    assert not bf.might_contain_any(out, np.asarray([55_555_555], dtype=np.int64))
    # a source without a Bloom blocks the union (stays unprunable)
    c = base / "c"
    c.mkdir()
    assert not bf.union_write(out, [a, c])


def test_probe_reads_only_collision_bearing_dirs(spark, monkeypatch, tmp_path):
    """Integration: after indexing one batch, a fully-novel batch's
    probe must read (almost) no band version dirs, and a duplicate-
    heavy batch must read them — Bloom pruning at work."""
    from db_cdc_poc_spark.streaming.dedup_index import StreamingDedupIndex
    from db_cdc_poc_spark.streaming.state import BucketedStateTable

    idx = StreamingDedupIndex(
        str(tmp_path / "lshbloom"), threshold=0.5, num_buckets=8
    )
    b1 = spark.createDataFrame(
        [(i, f"first batch document {i} talks about completely original topic {i}")
         for i in range(12)],
        "doc_id long, text string",
    )
    idx.process_batch(b1)

    reads: list[int] = []
    orig = BucketedStateTable.read_dirs

    def spy(self, s, dirs):
        if self is idx.state:
            reads.append(len(list(dirs)))
        return orig(self, s, dirs)

    monkeypatch.setattr(BucketedStateTable, "read_dirs", spy)

    novel = spark.createDataFrame(
        [(100 + i, f"second batch text {i} covers unrelated material entirely {i}")
         for i in range(12)],
        "doc_id long, text string",
    )
    dec_novel = {r.id: r.is_novel for r in idx.process_batch(novel).collect()}
    novel_reads = reads[-1]
    assert all(dec_novel.values())  # all genuinely novel

    dup = spark.createDataFrame(
        [(200, "first batch document 3 talks about completely original topic 3")],
        "doc_id long, text string",
    )
    dec_dup = {r.id: r.is_novel for r in idx.process_batch(dup).collect()}
    dup_reads = reads[-1]
    assert dec_dup[200] is False  # pruning never loses a duplicate
    assert dup_reads >= 1  # the duplicate's dirs were read
    # the novel batch read (almost) nothing: strictly fewer dirs than
    # the duplicate probe touched per its much larger hash set, and in
    # practice zero (deterministic data — pin it)
    assert novel_reads == 0