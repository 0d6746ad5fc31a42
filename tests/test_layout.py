"""Z-order layout: Morton-key correctness and the data-skipping
property — per-file min/max coverage stays tight on BOTH dimensions,
unlike a single-column sort."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from db_cdc_poc_spark.operators.layout import with_zorder_key, write_zordered


def test_zorder_key_locality_of_known_points(spark):
    """Interleave of (x, y) at 8 bits: spot-check exact Morton values
    (x bits land at even positions, y bits at odd)."""
    df = spark.createDataFrame(
        [(0, 0), (255, 0), (0, 255), (3, 5)], "x long, y long"
    )
    out = {
        (r.x, r.y): r.z
        for r in with_zorder_key(df, {"x": (0, 255), "y": (0, 255)}, bits=8).collect()
    }
    assert out[(0, 0)] == 0
    # x=255 -> bits 0..7 at even positions: 0b0101010101010101
    assert out[(255, 0)] == 0x5555
    assert out[(0, 255)] == 0xAAAA
    # x=3 (0b11) even positions -> 0b0101; y=5 (0b101) odd -> 0b100010
    assert out[(3, 5)] == 0b100111


def _per_file_coverage(path: str, col: str, span: float) -> float:
    """Mean per-file (max-min)/span for ``col`` over parquet footers —
    exactly the stats an engine's row-group/file pruning consults."""
    fracs = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        md = pq.read_metadata(f)
        idx = md.schema.names.index(col)
        stats = [
            md.row_group(i).column(idx).statistics for i in range(md.num_row_groups)
        ]
        lo = min(s.min for s in stats)
        hi = max(s.max for s in stats)
        fracs.append((hi - lo) / span)
    assert fracs
    return sum(fracs) / len(fracs)


def test_zorder_write_keeps_both_dims_tight(spark, tmp_path_factory):
    """16 files over a uniform 2-D grid: a sort by x alone leaves every
    file covering the FULL y range (coverage ~1.0); the z-ordered
    layout keeps both dims' mean per-file coverage well below it —
    that delta IS the data-skipping win for filters on y."""
    n = 1 << 14
    df = (
        spark.range(n)
        .select(
            (F.col("id") % 128).alias("x"),
            F.floor(F.col("id") / 128).alias("y"),
        )
        .repartition(8)
    )
    zdir = str(tmp_path_factory.mktemp("zord_")) + "/t"
    write_zordered(df, zdir, {"x": (0, 127), "y": (0, 127)}, num_files=16, bits=7)

    xdir = str(tmp_path_factory.mktemp("xsort_")) + "/t"
    (
        df.repartitionByRange(16, F.col("x"))
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(xdir)
    )

    z_y = _per_file_coverage(zdir, "y", 127.0)
    x_y = _per_file_coverage(xdir, "y", 127.0)
    z_x = _per_file_coverage(zdir, "x", 127.0)
    assert x_y > 0.9, "x-sorted layout should cover ~all of y per file"
    assert z_y < 0.5, f"z-order should keep y tight per file, got {z_y}"
    assert z_x < 0.6, f"z-order should keep x reasonably tight, got {z_x}"
    # layout must not change the data
    back = spark.read.parquet(zdir)
    assert back.count() == n
    assert back.agg(F.sum("x")).collect()[0][0] == df.agg(F.sum("x")).collect()[0][0]


def test_compact_parquet_shrinks_file_count_preserving_data(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("frag_")) + "/t"
    df = spark.range(50_000).select(
        F.col("id"), (F.col("id") % 97).alias("k")
    )
    df.repartition(64).write.parquet(src)  # 64 tiny files
    from db_cdc_poc_spark.operators.layout import compact_parquet

    before = len(glob.glob(f"{src}/part-*.parquet"))
    assert before >= 32
    n = compact_parquet(spark, src, target_bytes_per_file=1 << 20)
    after = len(glob.glob(f"{src}/part-*.parquet"))
    assert n == after < before / 4
    back = spark.read.parquet(src)
    assert back.count() == 50_000
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(50_000))


def test_compact_parquet_sorted_keeps_clustering(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("fragsort_")) + "/t"
    spark.range(20_000).select((F.col("id") % 500).alias("k")).repartition(
        32
    ).write.parquet(src)
    from db_cdc_poc_spark.operators.layout import compact_parquet

    n = compact_parquet(spark, src, target_bytes_per_file=1 << 15, sort_within_by="k")
    assert n >= 3
    # range-partitioned + sorted output -> per-file k ranges are tight
    cov = _per_file_coverage(src, "k", 499.0)
    assert cov < 0.7


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    # the 100 TB star-join feature: a selective dim filter prunes fact
    # PARTITIONS at runtime (no static literal available to the
    # planner). Assert the executed plan carries a dynamicpruning
    # subquery on the partition column and results stay correct.
    from db_cdc_poc_spark.sources.testdata import load_table

    from .conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    root = str(tmp_path / "events_by_type")
    ev.write.partitionBy("event_type").parquet(root)
    fact = spark.read.parquet(root)
    dim = spark.createDataFrame(
        [("click", 1), ("view", 2), ("purchase", 3)], "event_type string, w int"
    ).filter(F.col("w") == 1)
    j = fact.join(dim, "event_type").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    [row] = j.collect()
    want = ev.filter(F.col("event_type") == "click").count()
    assert (row.event_type, row.n) == ("click", want)
