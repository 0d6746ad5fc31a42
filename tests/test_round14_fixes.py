"""Round-14 fixes (VERDICT r13 asks + ADVICE r13 items).

1. ephemeral scratch is guarded: a RAM-backed base is only chosen with
   free-space headroom (falls back to the disk tempdir otherwise), dirs
   are tracked, and ``discard_ephemeral_dir`` releases them eagerly.
2. ``metadata_row_count`` answers from parquet footers (zero jobs) for
   row-preserving frames and refuses anything cardinality-changing.
3. ``scaled_spread_target`` scales the fan-out width with input size,
   clamped to [1, defaultParallelism].
4. ``local_df`` rejects dict rows (silent NULL-row hazard) and counts
   nested-type schema columns correctly.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from db_cdc_poc_spark.partitioning import (
    metadata_row_count,
    scaled_spread_target,
)
from db_cdc_poc_spark.sources.exchange import local_df
from db_cdc_poc_spark.sources.testdata import load_table
from db_cdc_poc_spark.streaming import ephemeral

SF_DIR = "/root/testdata/sf0.001"


# -- 1: ephemeral scratch guard ----------------------------------------------


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


# -- 2: footer-based row count ------------------------------------------------


def test_metadata_row_count_matches_count(spark):
    docs = load_table(spark, SF_DIR, "documents")
    n = metadata_row_count(docs)
    assert n is not None
    assert n == docs.count()


def test_metadata_row_count_refuses_cardinality_changes(spark):
    docs = load_table(spark, SF_DIR, "documents")
    assert metadata_row_count(docs.filter(F.col("doc_id") > 3)) is None
    assert metadata_row_count(docs.limit(2)) is None
    assert metadata_row_count(docs.groupBy("lang").count()) is None
    # projections/repartitions preserve rows and must still answer
    assert metadata_row_count(
        docs.select("doc_id").repartition(4)
    ) == docs.count()


# -- 3: size-scaled spread target ---------------------------------------------


def test_scaled_spread_target_bounds(spark):
    par = spark.sparkContext.defaultParallelism
    assert scaled_spread_target(spark, None) == par
    assert scaled_spread_target(spark, 1, 128 << 10) == 1
    assert scaled_spread_target(spark, (128 << 10) * par * 10, 128 << 10) == par
    assert (
        scaled_spread_target(spark, (128 << 10) * 3, 128 << 10)
        == min(3, par)
    )


# -- 4: local_df hardening ------------------------------------------------------


def test_local_df_rejects_dict_rows(spark):
    with pytest.raises(TypeError, match="dict"):
        local_df(spark, [{"a": 1}], "a long")


def test_local_df_counts_nested_schema_columns(spark):
    df = local_df(
        spark,
        [({"k": 1}, [1, 2], 3)],
        "m map<string,int>, xs array<int>, n long",
    )
    assert df.columns == ["m", "xs", "n"]
    row = df.collect()[0]
    assert row.n == 3 and row.xs == [1, 2] and row.m == {"k": 1}
    # and it must be a LocalRelation (Arrow path), not a pickled RDD
    assert "LogicalRDD" not in df._jdf.queryExecution().analyzed().toString()
