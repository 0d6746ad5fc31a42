"""The one drain core (``streaming/ephemeral.py``) and its scratch.

Ephemeral scratch is guarded: a RAM-backed base is only chosen with
free-space headroom (falls back to the disk tempdir otherwise), dirs
are tracked, and ``discard_ephemeral_dir`` releases them eagerly.
Every drain releases its throwaway checkpoint when it returns, the CDC
and gold drains release their default state tables once the result is
pinned, a caller-given checkpoint survives, and a memory-sink drain's state width
scales with the size of the directory it reads. No other package module
sets an availableNow trigger or awaits a streaming query.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from pathlib import Path

import pytest

from db_cdc_poc_spark.streaming import ephemeral
from db_cdc_poc_spark.streaming.cdc import stream_apply_changes
from db_cdc_poc_spark.streaming.gold import stream_gold_inventory
from db_cdc_poc_spark.streaming.jobs import stream_dedup_keys, stream_fanout

# -- ephemeral scratch guard --------------------------------------------------


def test_ephemeral_dir_falls_back_to_disk_when_tmpfs_full(monkeypatch):
    """An impossible free-space floor must push the dir off every
    RAM-backed base onto the normal tempdir — the ENOSPC guard."""
    monkeypatch.setenv("SPARK_GRAFT_EPHEMERAL_MIN_FREE", str(1 << 62))
    d = ephemeral.ephemeral_checkpoint_dir("guard_test_")
    try:
        assert not d.startswith("/dev/shm"), d
        assert os.path.isdir(d)
    finally:
        ephemeral.discard_ephemeral_dir(d)
    assert not os.path.exists(d)


def test_ephemeral_dir_uses_ram_when_room(monkeypatch):
    if not (os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)):
        pytest.skip("no tmpfs on this host")
    monkeypatch.delenv("SPARK_GRAFT_EPHEMERAL_DIR", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_EPHEMERAL_MIN_FREE", "1")
    d = ephemeral.ephemeral_checkpoint_dir("guard_test_")
    try:
        assert d.startswith("/dev/shm"), d
    finally:
        ephemeral.discard_ephemeral_dir(d)
    assert not os.path.exists(d)


def test_discard_is_noop_for_foreign_paths(tmp_path):
    foreign = tmp_path / "not_ours"
    foreign.mkdir()
    ephemeral.discard_ephemeral_dir(str(foreign))
    assert foreign.exists()


# -- drain lifecycle ----------------------------------------------------------


@pytest.fixture
def scratch(tmp_path, monkeypatch):
    """Point ephemeral scratch at a private dir so leftovers are visible."""
    base = tmp_path / "ephemeral"
    base.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_EPHEMERAL_DIR", str(base))
    monkeypatch.setenv("SPARK_GRAFT_EPHEMERAL_MIN_FREE", "1")
    return base


#: Scratch a returned call must not leave behind: drain checkpoints and
#: the default (``state_path=None``) CDC and gold state tables.
_SCRATCH_PREFIXES = ("ckpt_", "cdc_state_", "gold_state_")


def _leftovers(base) -> list[str]:
    return sorted(
        p.name for p in base.iterdir() if p.name.startswith(_SCRATCH_PREFIXES)
    )


T0 = dt.datetime(2024, 1, 1)


def _write_changes(spark, path: str) -> None:
    """Seven change rows over two files: (store_id, item_id, date_time,
    quantity, seq), one exact duplicate of (1, 10) at 02:00."""
    rows = [
        (1, 10, T0 + dt.timedelta(hours=1), 5, 1),
        (1, 10, T0 + dt.timedelta(hours=2), -2, 2),
        (1, 10, T0 + dt.timedelta(hours=2), -2, 2),
        (1, 11, T0 + dt.timedelta(hours=3), 7, 3),
        (2, 10, T0 - dt.timedelta(hours=1), 9, 4),
        (2, 10, T0 + dt.timedelta(hours=4), 1, 5),
    ]
    spark.createDataFrame(
        rows,
        "store_id int, item_id int, date_time timestamp, quantity int, seq int",
    ).coalesce(1).write.parquet(path)
    spark.createDataFrame(
        [(3, 12, T0 + dt.timedelta(hours=5), 4, 6)],
        "store_id int, item_id int, date_time timestamp, quantity int, seq int",
    ).write.mode("append").parquet(path)


def test_memory_drain_releases_checkpoint(spark, scratch, tmp_path):
    src = str(tmp_path / "changes")
    _write_changes(spark, src)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    keys = stream_dedup_keys(
        spark, src, ["store_id", "item_id", "seq"], watermark_col="date_time"
    )
    assert sorted(tuple(r) for r in keys.collect()) == [
        (1, 10, 1), (1, 10, 2), (1, 11, 3), (2, 10, 4), (2, 10, 5), (3, 12, 6)
    ]
    assert _leftovers(scratch) == []
    # the drain's scaled width is scoped to the drain
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_fanout_releases_checkpoint(spark, scratch, tmp_path):
    src = str(tmp_path / "changes")
    _write_changes(spark, src)
    sink = str(tmp_path / "sink")
    stream_fanout(spark, src, [sink])
    assert spark.read.parquet(sink).count() == 7
    assert _leftovers(scratch) == []


def test_gold_drain_releases_checkpoint(spark, scratch, tmp_path):
    src = str(tmp_path / "changes")
    _write_changes(spark, src)
    snapshot = spark.createDataFrame(
        [(1, 10, 100, T0), (1, 11, 50, T0), (2, 10, 20, T0)],
        "store_id int, item_id int, quantity int, date_time_ts timestamp",
    )
    gold = stream_gold_inventory(
        spark, src, snapshot, max_files_per_trigger=1, num_buckets=4
    )
    got = {
        (r.store_id, r.item_id): r.current_inventory for r in gold.collect()
    }
    # (1, 10) folds both copies of the 02:00 row: gold's input contract
    # is deduped silver; (2, 10) ignores the change before its snapshot;
    # (3, 12) has no snapshot row
    assert got == {(1, 10): 101, (1, 11): 57, (2, 10): 21}
    assert _leftovers(scratch) == []


def test_cdc_drain_releases_only_throwaway_checkpoint(spark, scratch, tmp_path):
    src = str(tmp_path / "changes")
    _write_changes(spark, src)
    applied = stream_apply_changes(
        spark, src, keys=["store_id", "item_id"], sequence_by="seq"
    )
    assert applied.count() == 4
    assert _leftovers(scratch) == []

    durable = tmp_path / "durable_ckpt"
    stream_apply_changes(
        spark,
        src,
        keys=["store_id", "item_id"],
        sequence_by="seq",
        state_path=str(tmp_path / "cdc_state"),
        checkpoint_path=str(durable),
    )
    assert (durable / "commits").is_dir()
    assert any((durable / "commits").iterdir())
    assert _leftovers(scratch) == []


# -- width rule ---------------------------------------------------------------


def test_memory_drain_width_scales_with_source_size(spark, tmp_path):
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tiny = tmp_path / "tiny"
    tiny.mkdir()
    (tiny / "part-0.parquet").write_bytes(b"x" * 1024)
    assert ephemeral._drain_width(spark, str(tiny)) == 1

    big = tmp_path / "big"
    big.mkdir()
    with open(big / "part-0.parquet", "wb") as f:
        f.truncate(session * ephemeral._DRAIN_TASK_BYTES + 1)
    assert ephemeral._drain_width(spark, str(big)) == session

    missing = str(tmp_path / "missing")
    assert ephemeral._drain_width(spark, missing) == session


# -- one drain ----------------------------------------------------------------


def test_every_available_now_query_starts_and_is_awaited_in_ephemeral():
    """The package has one drain core: no module outside
    ``streaming/ephemeral.py`` sets an availableNow trigger or awaits a
    streaming query itself."""
    core = Path(ephemeral.__file__).resolve()
    pkg = core.parent.parent
    pattern = re.compile(r"awaitTermination\(|trigger\(\s*availableNow")
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == core:
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if pattern.search(line):
                offenders.append(f"{path.relative_to(pkg)}:{n}")
    assert offenders == []
