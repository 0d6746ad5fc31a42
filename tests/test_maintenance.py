"""Maintenance planning: compaction groups and file-stats pruning."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from db_cdc_poc_spark.operators.maintenance import (
    compaction_plan,
    file_skipping_stats,
    interval_survives,
    prune_files,
)


def _manifest(spark, sizes_by_part):
    rows = [
        (part, f"f{part}_{i:03d}", b)
        for part, sizes in sizes_by_part.items()
        for i, b in enumerate(sizes)
    ]
    return spark.createDataFrame(rows, "part string, file_name string, bytes long")


def test_compaction_groups_are_target_sized_and_exhaustive(spark):
    files = _manifest(spark, {"a": [40, 40, 40, 40, 40, 40], "b": [10, 10, 90]})
    plan = compaction_plan(
        files, target_bytes=100, partition_cols=["part"]
    ).collect()
    by_group: dict[tuple, list] = {}
    for r in plan:
        by_group.setdefault((r.part, r.group_id), []).append(r.bytes)
    # partition a: 6x40 -> first-fit boundaries at cum>=100: groups of
    # 3 (120B) and 2 (80B); the trailing singleton is dropped
    assert sorted(len(v) for k, v in by_group.items() if k[0] == "a") == [2, 3]
    # every group holds >= target once "full" (all but possibly the last)
    for (part, gid), sizes in by_group.items():
        later = [g for (p, g) in by_group if p == part and g > gid]
        if later:
            assert sum(sizes) >= 100
    # partition b packs all three files into one group (10+10+90)
    assert sorted(v for k, v in by_group.items() if k[0] == "b") == [[10, 10, 90]]


def test_compaction_excludes_right_sized_files_and_singletons(spark):
    files = _manifest(spark, {"a": [500, 30], "b": [70, 60]})
    plan = compaction_plan(
        files, target_bytes=100, partition_cols=["part"]
    ).collect()
    names = {r.file_name for r in plan}
    # the 500-byte file is already >= target: never rewritten
    assert "fa_000" not in names
    # which leaves partition a's 30-byte file alone in its group -> dropped
    assert "fa_001" not in names
    # partition b: two files, one group of 130 bytes
    assert names == {"fb_000", "fb_001"}


def test_compaction_plan_is_deterministic(spark):
    files = _manifest(spark, {"a": [33] * 10})
    a = sorted(map(tuple, compaction_plan(
        files, target_bytes=100, partition_cols=["part"]).collect()))
    b = sorted(map(tuple, compaction_plan(
        files, target_bytes=100, partition_cols=["part"]).collect()))
    assert a == b


def test_file_stats_and_pruning_match_brute_force(spark):
    rows = [(i % 7, i, None if i % 11 == 0 else i * 3 % 50) for i in range(200)]
    df = spark.createDataFrame(rows, "file_id int, rid int, v int")
    stats = file_skipping_stats(df, file_col="file_id", stat_cols=["v"])
    got = {r.file_id: (r.n_rows, r.v_min, r.v_max, r.v_nulls)
           for r in stats.collect()}
    for fid in range(7):
        vals = [v for f, _, v in rows if f == fid]
        nn = [v for v in vals if v is not None]
        assert got[fid] == (len(vals), min(nn), max(nn),
                            sum(v is None for v in vals))

    lo, hi = 10, 20
    survivors = {r.file_id for r in prune_files(stats, "v", lo, hi).collect()}
    brute = {
        fid for fid in range(7)
        if any(v is not None and lo <= v <= hi
               for f, _, v in rows if f == fid)
    }
    # interval test admits a superset of files that actually contain a
    # match (min/max ranges can cover values absent from the file) but
    # NEVER prunes a file that has one — the correctness contract
    assert brute <= survivors


def test_pruning_never_false_negative_on_clustered_layout(spark):
    # clustered: file = v // 10, so ranges are tight and pruning exact
    df = spark.createDataFrame(
        [(v // 10, v) for v in range(100)], "file_id int, v int"
    )
    stats = file_skipping_stats(df, file_col="file_id", stat_cols=["v"])
    survivors = {r.file_id for r in prune_files(stats, "v", 35, 44).collect()}
    assert survivors == {3, 4}
    # and all-NULL files are pruned for a range predicate
    withnull = df.union(
        spark.createDataFrame([(99, None)], "file_id int, v int")
    )
    s2 = file_skipping_stats(withnull, file_col="file_id", stat_cols=["v"])
    assert 99 not in {r.file_id for r in prune_files(s2, "v", 0, 1000).collect()}


def test_zorder_layout_beats_roundrobin_under_pruning(spark, tmp_path):
    """End-to-end loop: layout.write_zordered -> REAL parquet files ->
    file_skipping_stats keyed by input_file_name -> prune_files. The
    z-ordered layout must leave strictly fewer candidate files for a
    2-D range predicate than a round-robin layout of the same data —
    the measurable payoff q149 quantifies on synthetic file cuts."""
    from db_cdc_poc_spark.operators.layout import write_zordered

    df = spark.range(4096).select(
        (F.col("id") % 64).cast("int").alias("x"),
        (F.col("id") / 64).cast("int").alias("y"),
    )
    zpath, rpath = str(tmp_path / "zord"), str(tmp_path / "rr")
    write_zordered(df, zpath, {"x": (0, 63), "y": (0, 63)}, num_files=16)
    df.repartition(16).write.parquet(rpath)

    def surviving(path):
        filed = spark.read.parquet(path).withColumn(
            "file_id", F.input_file_name()
        )
        stats = file_skipping_stats(filed, file_col="file_id", stat_cols=["x"])
        total = stats.count()
        return total, prune_files(stats, "x", 8, 15).count()

    z_total, z_live = surviving(zpath)
    r_total, r_live = surviving(rpath)
    assert z_total == r_total == 16
    # round-robin spreads every x everywhere: nothing skips
    assert r_live == 16
    assert z_live < r_live


def test_interval_survives_matches_prune_filter(spark):
    df = spark.createDataFrame(
        [(v % 5, v) for v in range(50)], "file_id int, v int"
    )
    stats = file_skipping_stats(df, file_col="file_id", stat_cols=["v"])
    via_filter = prune_files(stats, "v", 3, 7).count()
    via_flag = stats.select(
        interval_survives("v", 3, 7).cast("long").alias("s")
    ).agg(F.sum("s").alias("n")).first().n
    assert via_filter == via_flag


def test_plan_execute_remeasure_loop(spark, tmp_path):
    """The full maintenance loop (r7 ask 6): fragment a range-
    clustered table -> compaction_plan from the on-disk manifest ->
    execute_compaction -> re-measure with file_skipping_stats: fewer
    files, identical data, and min/max pruning selectivity preserved
    (files stay range-disjoint, a point-range query still survives to
    O(1) files)."""
    import os

    from db_cdc_poc_spark.operators.maintenance import execute_compaction

    path = str(tmp_path / "frag")
    # 32 tiny range-ordered files over id 0..9999 (the micro-batch
    # writer fragmentation pattern)
    base = spark.range(10_000).selectExpr("id", "id % 97 AS v")
    base.repartitionByRange(32, F.col("id")).sortWithinPartitions(
        "id"
    ).write.parquet(path)

    def manifest():
        rows = [
            (f, os.path.getsize(os.path.join(path, f)))
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        ]
        return spark.createDataFrame(rows, "file_name string, bytes long")

    def stats():
        df = spark.read.parquet(path).withColumn(
            "f", F.element_at(F.split(F.input_file_name(), "/"), -1)
        )
        return file_skipping_stats(df, file_col="f", stat_cols=["id"])

    before_files = manifest().count()
    assert before_files == 32
    before_sum = spark.read.parquet(path).agg(F.sum("v")).collect()[0][0]
    before_hit = prune_files(stats(), "id", 5_000, 5_010).count()
    assert before_hit <= 2  # range clustering prunes to O(1) files

    total = manifest().agg(F.sum("bytes")).collect()[0][0]
    target = int(total / 8) + 1  # pack ~4 source files per group
    plan = compaction_plan(manifest(), target_bytes=target)
    res = execute_compaction(spark, path, plan)
    assert res["files_written"] < res["files_removed"]

    after = manifest().count()
    assert after < before_files
    # identical data
    assert spark.read.parquet(path).count() == 10_000
    assert spark.read.parquet(path).agg(F.sum("v")).collect()[0][0] == before_sum
    # clustering preserved: files still pairwise range-disjoint ...
    st = stats().collect()
    ranges = sorted((r.id_min, r.id_max) for r in st)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "compaction broke range disjointness"
    # ... so the point-range query still survives to exactly 1 file
    after_hit = prune_files(stats(), "id", 5_000, 5_010).count()
    assert after_hit == 1


def test_execute_compaction_rejects_partitioned_plan(spark, tmp_path):
    """group_id is dense only WITHIN a partition: executing a
    partitioned plan against one directory would merge files across
    partitions — must be rejected with the per-directory guidance."""
    import pytest

    from db_cdc_poc_spark.operators.maintenance import execute_compaction

    files = _manifest(spark, {"a": [10, 10], "b": [10, 10]})
    plan = compaction_plan(files, target_bytes=100, partition_cols=["part"])
    with pytest.raises(ValueError, match="partition"):
        execute_compaction(spark, str(tmp_path), plan)


def test_recover_compaction_rolls_forward_and_back(spark, tmp_path):
    from db_cdc_poc_spark.operators.maintenance import recover_compaction

    path = tmp_path / "tbl"
    spark.range(100).selectExpr("id", "id % 7 AS v").repartition(4).write.parquet(
        str(path)
    )
    files = sorted(p.name for p in path.glob("*.parquet"))
    assert len(files) == 4
    total = spark.read.parquet(str(path)).agg(F.sum("v")).collect()[0][0]

    # FORWARD case: compacted file written, members NOT yet unlinked
    # (crash between move and unlinks) -> permanent duplicates today
    members = files[:2]
    new_name = "compact-0-deadbeef.parquet"
    spark.read.parquet(*[str(path / m) for m in members]).coalesce(1).write.parquet(
        str(tmp_path / "stage")
    )
    [part] = list((tmp_path / "stage").glob("part-*.parquet"))
    part.rename(path / new_name)
    (path / ".compact-journal-0-aa.json").write_text(
        json.dumps({"members": members, "new_file": new_name})
    )
    # duplicates are now visible — the defect recover must repair
    assert spark.read.parquet(str(path)).count() > 100

    # BACK case: journal written, crash BEFORE the move (no new file)
    (path / ".compact-journal-1-bb.json").write_text(
        json.dumps({"members": files[2:], "new_file": "compact-1-never.parquet"})
    )

    res = recover_compaction(str(path))
    assert res == {"rolled_forward": 1, "rolled_back": 1,
                   "members_removed": 2}
    # table is exactly the original data again; no journals remain
    assert spark.read.parquet(str(path)).count() == 100
    assert spark.read.parquet(str(path)).agg(F.sum("v")).collect()[0][0] == total
    assert list(path.glob(".compact-journal-*.json")) == []
    # idempotent
    assert recover_compaction(str(path)) == {
        "rolled_forward": 0, "rolled_back": 0, "members_removed": 0}
