"""Streaming-vs-batch parity (SURVEY §5.4): the availableNow streams
must produce exactly the batch operators' results, including when the
input is split across multiple micro-batches."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from db_cdc_poc_spark.operators.cdc import apply_changes
from db_cdc_poc_spark.sources.testdata import load_table
from db_cdc_poc_spark.streaming.cdc import CdcTarget, stream_apply_changes
from db_cdc_poc_spark.streaming.jobs import (
    stream_dedup_keys,
    stream_dedup_keys_within_watermark,
)

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """events table staged as 4 parquet files (micros timestamps)."""
    out = str(tmp_path_factory.mktemp("events_multi") / "events")
    load_table(spark, SF_DIR, "events").repartition(4).write.parquet(out)
    return out


def test_stream_dedup_keys_equals_distinct(spark, events_dir):
    got = sorted(
        (r.user_id, r.event_type)
        for r in stream_dedup_keys(spark, events_dir, ["user_id", "event_type"]).collect()
    )
    want = sorted(
        (r.user_id, r.event_type)
        for r in spark.read.parquet(events_dir)
        .select("user_id", "event_type").distinct().collect()
    )
    assert got == want


def test_stream_dedup_within_watermark_equals_distinct(spark, events_dir):
    # the bounded-state variant: with a delay wider than the data span,
    # dropDuplicatesWithinWatermark's key set == batch DISTINCT
    got = sorted(
        (r.user_id, r.event_type)
        for r in stream_dedup_keys_within_watermark(
            spark, events_dir, ["user_id", "event_type"]
        ).collect()
    )
    want = sorted(
        (r.user_id, r.event_type)
        for r in spark.read.parquet(events_dir)
        .select("user_id", "event_type").distinct().collect()
    )
    assert got == want


def test_stream_cdc_apply_single_batch_parity(spark, events_dir):
    batch = apply_changes(
        spark.read.parquet(events_dir),
        keys="user_id", sequence_by="ts",
        apply_as_deletes="event_type = 'error'",
        except_columns=["props"], tie_breakers="event_id",
    )
    streamed = stream_apply_changes(
        spark, events_dir,
        keys="user_id", sequence_by="ts",
        apply_as_deletes="event_type = 'error'",
        except_columns=["props"], tie_breakers="event_id",
    )
    assert sorted(map(tuple, batch.collect())) == sorted(map(tuple, streamed.collect()))


def test_stream_cdc_apply_multi_batch_parity(spark, events_dir):
    # maxFilesPerTrigger=1 forces 4 micro-batches; the incremental merge
    # must be associative: final state == batch apply over everything,
    # regardless of which rows arrived in which batch
    batch = apply_changes(
        spark.read.parquet(events_dir),
        keys="user_id", sequence_by="ts",
        apply_as_deletes="event_type = 'error'",
        except_columns=["props"], tie_breakers="event_id",
    )
    streamed = stream_apply_changes(
        spark, events_dir,
        keys="user_id", sequence_by="ts",
        apply_as_deletes="event_type = 'error'",
        except_columns=["props"], tie_breakers="event_id",
        max_files_per_trigger=1,
    )
    assert sorted(map(tuple, batch.collect())) == sorted(map(tuple, streamed.collect()))


def test_cdc_target_delete_then_reinsert_across_batches(spark, tmp_path):
    target = CdcTarget(
        str(tmp_path),
        keys="k", sequence_by="seq", apply_as_deletes="op = 'd'",
        except_columns=["op", "seq"],
    )
    b1 = spark.createDataFrame([(1, "a", "u", 10), (2, "b", "u", 10)],
                               "k long, v string, op string, seq long")
    b2 = spark.createDataFrame([(1, "x", "d", 20)],
                               "k long, v string, op string, seq long")
    b3 = spark.createDataFrame([(1, "c", "u", 30)],
                               "k long, v string, op string, seq long")
    target.upsert_batch(b1)
    target.upsert_batch(b2)
    mid = {(r.k, r.v) for r in target.current(spark).collect()}
    assert mid == {(2, "b")}  # key 1 deleted
    target.upsert_batch(b3)
    end = {(r.k, r.v) for r in target.current(spark).collect()}
    assert end == {(1, "c"), (2, "b")}  # reinsert after delete survives


def test_cdc_target_stale_update_across_batches_ignored(spark, tmp_path):
    target = CdcTarget(
        str(tmp_path),
        keys="k", sequence_by="seq", except_columns=["seq"],
    )
    target.upsert_batch(
        spark.createDataFrame([(1, "new", 200)], "k long, v string, seq long")
    )
    target.upsert_batch(
        spark.createDataFrame([(1, "old", 100)], "k long, v string, seq long")
    )
    [r] = target.current(spark).collect()
    assert r.v == "new"


def test_cdc_target_untouched_buckets_not_rewritten(spark, tmp_path):
    # scale contract: a micro-batch must rewrite ONLY the bucket chains
    # its keys hash into — every other bucket's files stay byte-identical
    import hashlib
    from pathlib import Path

    root = str(tmp_path)
    target = CdcTarget(root, keys="k", sequence_by="seq", num_buckets=8)
    b1 = spark.createDataFrame(
        [(i, f"v{i}", 10) for i in range(50)], "k long, v string, seq long"
    )
    target.upsert_batch(b1)
    bucket_of = {
        r.k: r.b for r in b1.select("k", target.bucket_expr().alias("b")).collect()
    }
    touched_bucket = bucket_of[0]
    untouched = sorted(set(bucket_of.values()) - {touched_bucket})
    assert untouched, "need at least one bucket the second batch won't touch"

    def snapshot(b):
        d = Path(root) / f"bucket_{b:04d}"
        return {
            str(p.relative_to(d)): hashlib.md5(p.read_bytes()).hexdigest()
            for p in sorted(d.rglob("*"))
            if p.is_file()
        }

    before = {b: snapshot(b) for b in untouched}
    target.upsert_batch(
        spark.createDataFrame([(0, "upd", 20)], "k long, v string, seq long")
    )
    assert {b: snapshot(b) for b in untouched} == before
    # the touched chain advanced one version
    assert len(list((Path(root) / f"bucket_{touched_bucket:04d}").glob("v_*"))) == 2
    got = {(r.k, r.v) for r in target.current(spark).collect()}
    assert got == {(i, f"v{i}") for i in range(1, 50)} | {(0, "upd")}


def test_stream_stream_join_equals_batch_time_bounded_join(spark):
    from pyspark.sql import functions as F

    from db_cdc_poc_spark.queries import _staged_events_dir
    from db_cdc_poc_spark.streaming.jobs import stream_stream_join

    src = _staged_events_dir(spark, SF_DIR)
    streamed = sorted(
        map(
            tuple,
            stream_stream_join(
                spark, src, left_type="click", right_type="purchase"
            ).collect(),
        )
    )
    ev = spark.read.parquet(src)
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("l_id"),
        F.col("user_id").alias("l_key"),
        F.col("ts").alias("l_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("r_id"),
        F.col("user_id").alias("r_key"),
        F.col("ts").alias("r_ts"),
    )
    batch = sorted(
        map(
            tuple,
            c.join(
                p,
                F.expr(
                    "l_key = r_key AND r_ts >= l_ts "
                    "AND r_ts <= l_ts + interval 30 minutes"
                ),
            )
            .select("l_id", "r_id", F.col("l_key").alias("user_id"), "l_ts", "r_ts")
            .collect(),
        )
    )
    assert streamed == batch and len(streamed) > 0


def test_stream_cdc_apply_restart_is_exactly_once(spark, tmp_path):
    """Stop/restart contract: a second run with the SAME checkpoint +
    state processes only files added since the first run — re-running
    with nothing new changes nothing, and the final table equals one
    batch apply over everything (no double application)."""
    import shutil

    from pyspark.sql import functions as F

    from db_cdc_poc_spark.operators.cdc import apply_changes
    from db_cdc_poc_spark.queries import _staged_events_dir
    from db_cdc_poc_spark.streaming.cdc import stream_apply_changes

    staged = _staged_events_dir(spark, SF_DIR)
    files = sorted(
        f for f in __import__("os").listdir(staged) if f.endswith(".parquet")
    )
    assert len(files) >= 3
    src = str(tmp_path / "src")
    __import__("os").makedirs(src)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run():
        return stream_apply_changes(
            spark,
            src,
            keys="user_id",
            sequence_by="ts",
            tie_breakers="event_id",
            state_path=state,
            checkpoint_path=ckpt,
        )

    # run 1: first file only
    shutil.copy(f"{staged}/{files[0]}", f"{src}/{files[0]}")
    run()
    # run 2: same checkpoint, nothing new -> state unchanged
    before = sorted(map(tuple, run().collect()))
    assert before == sorted(map(tuple, run().collect()))
    # run 3: add the rest, resume -> equals one batch apply over all
    for f in files[1:]:
        shutil.copy(f"{staged}/{f}", f"{src}/{f}")
    final = sorted(map(tuple, run().select("user_id", "ts", "event_id").collect()))
    batch = sorted(
        map(
            tuple,
            apply_changes(
                spark.read.parquet(src),
                keys="user_id",
                sequence_by="ts",
                tie_breakers="event_id",
            ).select("user_id", "ts", "event_id").collect(),
        )
    )
    assert final == batch and len(final) > 0


def test_cdc_schema_evolution_additive_column(spark, tmp_path):
    """A micro-batch carrying a NEW column widens the CDC state: old
    rows read NULL for it, later batches keep updating, and buckets
    untouched by the evolved batch still read correctly (mergeSchema
    across per-bucket chains)."""
    from db_cdc_poc_spark.streaming.cdc import CdcTarget

    t = CdcTarget(str(tmp_path / "st"), keys="k", sequence_by="seq", num_buckets=4)
    t.upsert_batch(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")], "k long, seq long, v string"
        )
    )
    # evolved batch: new column 'extra'; touches only k=1's bucket
    t.upsert_batch(
        spark.createDataFrame(
            [(1, 2, "a2", "X")], "k long, seq long, v string, extra string"
        )
    )
    cur = {r.k: (r.v, r.extra) for r in t.current(spark).collect()}
    assert cur[1] == ("a2", "X")
    assert cur[2] == ("b", None) and cur[3] == ("c", None)
    # a later NON-evolved batch still merges into the widened state
    t.upsert_batch(
        spark.createDataFrame([(2, 2, "b2")], "k long, seq long, v string")
    )
    cur2 = {r.k: (r.v, r.extra) for r in t.current(spark).collect()}
    assert cur2[2] == ("b2", None) and cur2[1] == ("a2", "X")


def test_cdc_schema_evolution_type_widening(spark, tmp_path):
    """A micro-batch whose column widened upstream (int->long,
    float->double) merges: the touched bucket is rewritten with the
    wider type, buckets still holding the narrow type up-cast on read,
    and the full state reads under one widened schema."""
    from db_cdc_poc_spark.streaming.cdc import CdcTarget

    t = CdcTarget(str(tmp_path / "st"), keys="k", sequence_by="seq", num_buckets=4)
    t.upsert_batch(
        spark.createDataFrame(
            [(1, 1, 10, 1.5), (2, 1, 20, 2.5), (3, 1, 30, 3.5)],
            "k long, seq long, qty int, score float",
        )
    )
    # widened batch: qty arrives as long (a value beyond int range),
    # score as double; touches only k=1's bucket
    t.upsert_batch(
        spark.createDataFrame(
            [(1, 2, 2**40, 0.125)], "k long, seq long, qty long, score double"
        )
    )
    cur = t.current(spark)
    dtypes = dict(cur.dtypes)
    assert dtypes["qty"] == "bigint" and dtypes["score"] == "double"
    rows = {r.k: (r.qty, r.score) for r in cur.collect()}
    assert rows[1] == (2**40, 0.125)
    assert rows[2] == (20, 2.5) and rows[3] == (30, 3.5)
    # a later narrow batch still merges into the widened state
    t.upsert_batch(
        spark.createDataFrame([(2, 2, 21, 2.75)], "k long, seq long, qty int, score float")
    )
    rows2 = {r.k: (r.qty, r.score) for r in t.current(spark).collect()}
    assert rows2[2] == (21, 2.75) and rows2[1] == (2**40, 0.125)


def test_cdc_schema_evolution_cross_family_change_raises(spark, tmp_path):
    """Non-widenable type changes (int -> string) must stay hard
    errors — silent coercion corrupts CDC state."""
    import pytest

    from db_cdc_poc_spark.streaming.cdc import CdcTarget

    t = CdcTarget(str(tmp_path / "st"), keys="k", sequence_by="seq", num_buckets=4)
    t.upsert_batch(
        spark.createDataFrame([(1, 1, 10)], "k long, seq long, qty int")
    )
    with pytest.raises(TypeError, match="widening"):
        t.upsert_batch(
            spark.createDataFrame([(1, 2, "ten")], "k long, seq long, qty string")
        )


def test_streaming_state_on_rocksdb_matches_default_store(spark, events_dir):
    # the production state backend for large keyspaces: RocksDB spills
    # state to local disk instead of keeping it JVM-heap-resident.
    # Same query, same results, different provider — proving the
    # operators don't depend on the default HDFS-backed store.
    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    default = sorted(
        (r.user_id, r.event_type)
        for r in stream_dedup_keys(spark, events_dir, ["user_id", "event_type"]).collect()
    )
    spark.conf.set(provider_conf, rocksdb)
    try:
        rocks = sorted(
            (r.user_id, r.event_type)
            for r in stream_dedup_keys(
                spark, events_dir, ["user_id", "event_type"]
            ).collect()
        )
    finally:
        spark.conf.unset(provider_conf)
    assert rocks == default


def test_stream_fanout_writes_identical_sinks_across_batches(spark, events_dir, tmp_path):
    from db_cdc_poc_spark.streaming.jobs import stream_fanout

    base = str(tmp_path)
    sinks = [f"{base}/a", f"{base}/b"]
    # 1 file per trigger -> 4 micro-batches, each fanned to both sinks
    stream_fanout(spark, events_dir, sinks, max_files_per_trigger=1)
    src = sorted(
        map(tuple, spark.read.parquet(events_dir).select("event_id", "value").collect())
    )
    a = spark.read.parquet(sinks[0])
    b = spark.read.parquet(sinks[1])
    assert sorted(map(tuple, a.select("event_id", "value").collect())) == src
    assert sorted(map(tuple, b.select("event_id", "value").collect())) == src
    # multi-batch really happened, and batch dirs are the idempotence unit
    assert a.select("batch_id").distinct().count() == 4


def test_state_table_time_travel_reconstructs_each_commit(spark, tmp_path):
    # every merge_batch records a table-wide commit snapshot; state_at
    # must reproduce the table exactly as it stood after each batch
    target = CdcTarget(
        str(tmp_path),
        keys="k", sequence_by="seq", num_buckets=4, keep_versions=100,
    )
    snapshots = []
    for i, batch in enumerate([
        [(1, "a", 10), (2, "b", 10)],
        [(1, "a2", 20), (3, "c", 20)],
        [(2, "b3", 30)],
    ]):
        target.upsert_batch(
            spark.createDataFrame(batch, "k long, v string, seq long")
        )
        snapshots.append({(r.k, r.v) for r in target.current(spark).collect()})
    commits = target.state.commits()
    assert len(commits) == 3
    for commit, want in zip(commits, snapshots):
        got = {(r.k, r.v) for r in target.current_at(spark, commit).collect()}
        assert got == want, f"commit {commit}"


def test_state_table_time_travel_vacuumed_version_raises(spark, tmp_path):
    from db_cdc_poc_spark.streaming.state import StateVersionVacuumedError

    target = CdcTarget(
        str(tmp_path),
        keys="k", sequence_by="seq", num_buckets=1, keep_versions=1,
    )
    for seq in (10, 20, 30):
        target.upsert_batch(
            spark.createDataFrame([(1, f"v{seq}", seq)], "k long, v string, seq long")
        )
    first = target.state.commits()[0]
    with pytest.raises(StateVersionVacuumedError):
        target.state.state_at(spark, first)
    # the latest commit stays readable
    latest = target.state.commits()[-1]
    [r] = target.current_at(spark, latest).collect()
    assert r.v == "v30"


def test_state_diff_classifies_changes_between_commits(spark, tmp_path):
    from db_cdc_poc_spark.streaming.cdc import CdcTarget, state_diff

    target = CdcTarget(
        str(tmp_path),
        keys="k", sequence_by="seq", apply_as_deletes="op = 'd'",
        except_columns=["op", "seq"], keep_versions=6,
    )
    target.upsert_batch(spark.createDataFrame(
        [(1, "a", "u", 10), (2, "b", "u", 10), (3, "c", "u", 10)],
        "k long, v string, op string, seq long",
    ))
    target.upsert_batch(spark.createDataFrame(
        [(2, "b2", "u", 20), (1, "a", "d", 20), (4, "d", "u", 20)],
        "k long, v string, op string, seq long",
    ))
    c1, c2 = target.state.commits()
    diff = {r.k: r.change_kind for r in state_diff(target, spark, c1, c2).collect()}
    # 1 deleted, 2 updated, 4 inserted, 3 untouched (absent from diff)
    assert diff == {1: "removed", 2: "changed", 4: "added"}
    # self-diff is empty
    assert state_diff(target, spark, c2, c2).count() == 0
    # reversed direction flips added/removed
    rev = {r.k: r.change_kind for r in state_diff(target, spark, c2, c1).collect()}
    assert rev == {1: "added", 2: "changed", 4: "removed"}


def test_stream_session_window_equals_batch(spark):
    from pyspark.sql import functions as F

    from db_cdc_poc_spark.queries import _staged_events_dir
    from db_cdc_poc_spark.streaming.jobs import stream_session_counts

    src = _staged_events_dir(spark, SF_DIR)
    streamed = sorted(
        map(tuple, stream_session_counts(spark, src, gap="10 minutes").collect())
    )
    batch = sorted(
        map(
            tuple,
            spark.read.parquet(src)
            .groupBy("user_id", F.session_window(F.col("ts"), "10 minutes").alias("w"))
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.round(F.col("value") * 100, 0)).cast("long").alias("total_cents"),
            )
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
                "total_cents",
            )
            .collect(),
        )
    )
    # sessions merged across micro-batches in state == batch sessions
    assert streamed == batch
    assert len(streamed) > 0


def test_state_diff_sees_changes_in_evolved_columns(spark, tmp_path):
    from db_cdc_poc_spark.streaming.cdc import CdcTarget, state_diff

    target = CdcTarget(
        str(tmp_path),
        keys="k", sequence_by="seq", except_columns=["seq"], keep_versions=6,
    )
    target.upsert_batch(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], "k long, v string, seq long"
    ))
    # commit 2 adds column extra; key 1's ONLY change is in that column
    target.upsert_batch(spark.createDataFrame(
        [(1, "a", 20, "new")], "k long, v string, seq long, extra string"
    ))
    c1, c2 = target.state.commits()
    diff = {r.k: r.change_kind for r in state_diff(target, spark, c1, c2).collect()}
    # the evolved column must participate in the comparison
    assert diff == {1: "changed"}


def test_state_table_append_batch_equals_union_merge(spark, tmp_path):
    """append_batch (LSM delta versions, O(batch) writes) must be
    READ-identical to merge_batch with a union-all merge — same rows,
    same time travel — while writing only the batch per trigger."""
    from db_cdc_poc_spark.streaming.state import BucketedStateTable

    appended = BucketedStateTable(
        str(tmp_path / "app"), keys=["k"], num_buckets=4
    )
    merged = BucketedStateTable(
        str(tmp_path / "mrg"), keys=["k"], num_buckets=4
    )
    batches = [
        [(i, f"v{i}") for i in range(0, 40)],
        [(i, f"v{i}") for i in range(40, 55)],
        [(i, f"w{i}") for i in range(0, 10)],  # duplicate keys stay (append semantics)
    ]
    for rows in batches:
        b = spark.createDataFrame(rows, "k long, v string")
        appended.append_batch(b)
        merged.merge_batch(
            b, lambda s, bb: bb if s is None else s.unionByName(bb)
        )
        got = sorted(map(tuple, appended.state_for(spark).collect()))
        want = sorted(map(tuple, merged.state_for(spark).collect()))
        assert got == want
    # delta chains: appends never rewrote a full bucket
    assert any(
        p.name.endswith(".d")
        for b in range(4)
        for p in appended._versions(b)
    )
    # time travel reads the chain up to each commit
    commits = appended.commits()
    assert len(commits) == 3
    n_after = [40, 55, 65]
    for c, n in zip(commits, n_after):
        assert appended.state_at(spark, c).count() == n
    # snapshot compacts chains; content and history contract unchanged
    assert appended.snapshot(spark) == 4
    assert sorted(map(tuple, appended.state_for(spark).collect())) == want
    assert appended.snapshot(spark) == 0  # idempotent
    # post-snapshot: exactly one live dir per bucket matters for reads
    for b in range(4):
        assert len(appended._chain_dirs(b)) == 1


def test_state_table_append_then_merge_interleave(spark, tmp_path):
    """A merge_batch AFTER appends must see the full delta chain as
    its state input (the CDC-on-top-of-appends composition)."""
    from db_cdc_poc_spark.operators.cdc import latest_by_key
    from db_cdc_poc_spark.streaming.state import BucketedStateTable

    t = BucketedStateTable(
        str(tmp_path), keys=["k"], num_buckets=2
    )
    t.append_batch(spark.createDataFrame([(1, "a", 10), (2, "b", 10)], "k long, v string, seq long"))
    t.append_batch(spark.createDataFrame([(1, "a2", 20)], "k long, v string, seq long"))
    # merge: collapse to latest per key. merge_batch only touches the
    # BATCH's buckets, so include a stale k=1 row — its bucket's merge
    # must see BOTH earlier deltas and keep seq=20's value
    t.merge_batch(
        spark.createDataFrame(
            [(3, "c", 30), (1, "stale", 5)], "k long, v string, seq long"
        ),
        lambda s, b: latest_by_key(
            b if s is None else s.unionByName(b), "k", "seq"
        ),
    )
    got = sorted((r.k, r.v) for r in t.state_for(spark).collect())
    # k=2's bucket may be untouched (then its single delta row is the
    # state) — either way exactly one row per key with the right value
    assert got == [(1, "a2"), (2, "b"), (3, "c")]


def test_cdc_changes_since_classifies_c_u_d(spark, tmp_path):
    """changes_since(commit) is the applied-state delta: creates,
    payload updates, applied deletes; unchanged keys yield NO row."""
    target = CdcTarget(
        str(tmp_path),
        keys="k", sequence_by="seq", apply_as_deletes="op = 'd'",
        except_columns=["op", "seq"], keep_versions=4,
    )
    b1 = spark.createDataFrame(
        [(1, "a", "u", 10), (2, "b", "u", 10), (3, "c", "u", 10)],
        "k long, v string, op string, seq long",
    )
    target.upsert_batch(b1)
    wm = target.state.commits()[-1]
    # all-'c' bootstrap form
    boot = {(r.k, r.op) for r in target.changes_since(spark, None).collect()}
    assert boot == {(1, "c"), (2, "c"), (3, "c")}
    b2 = spark.createDataFrame(
        [(2, "B", "u", 20), (3, "c", "d", 20), (4, "d", "u", 20)],
        "k long, v string, op string, seq long",
    )
    target.upsert_batch(b2)
    got = {
        (r.k, r.op, r.before.v if r.before else None, r.after.v if r.after else None)
        for r in target.changes_since(spark, wm).collect()
    }
    # key 1 unchanged -> absent; 2 updated; 3 deleted; 4 created
    assert got == {
        (2, "u", "b", "B"),
        (3, "d", "c", None),
        (4, "c", None, "d"),
    }


def test_cdc_changes_since_replay_yields_empty_delta(spark, tmp_path):
    """A re-fired trigger re-upserting the same rows must produce an
    EMPTY delta against the post-commit watermark — the exactly-once
    property the crash soak's gold fold relies on."""
    target = CdcTarget(
        str(tmp_path),
        keys="k", sequence_by="seq", keep_versions=4,
    )
    b = spark.createDataFrame([(1, "a", 10), (2, "b", 10)],
                              "k long, v string, seq long")
    target.upsert_batch(b)
    wm = target.state.commits()[-1]
    target.upsert_batch(b)  # the replay
    assert target.changes_since(spark, wm).count() == 0


def test_cdc_changes_since_keys_filter_prunes(spark, tmp_path):
    target = CdcTarget(
        str(tmp_path),
        keys="k", sequence_by="seq", keep_versions=4,
    )
    target.upsert_batch(
        spark.createDataFrame([(1, "a", 10), (2, "b", 10)],
                              "k long, v string, seq long")
    )
    wm = target.state.commits()[-1]
    target.upsert_batch(
        spark.createDataFrame([(1, "A", 20), (2, "B", 20)],
                              "k long, v string, seq long")
    )
    keys = spark.createDataFrame([(1,)], "k long")
    got = {(r.k, r.op) for r in target.changes_since(spark, wm, keys).collect()}
    assert got == {(1, "u")}


# -- state-table writer lease --------------------------------------------------


def test_sequential_state_table_writers_unaffected(spark, tmp_path):
    """Per-mutation transient acquire/release: sequential instances and
    re-fires never block (the soak pattern)."""
    from db_cdc_poc_spark.streaming.state import BucketedStateTable

    t1 = BucketedStateTable(str(tmp_path / "st"), keys=["k"], num_buckets=4)
    t1.merge_batch(
        spark.createDataFrame([(1, "a")], "k long, v string"), lambda s, b: b
    )
    t2 = BucketedStateTable(str(tmp_path / "st"), keys=["k"], num_buckets=4)
    t2.append_batch(spark.createDataFrame([(2, "b")], "k long, v string"))
    assert t2.snapshot(spark) >= 1
    assert t2.state_for(spark).count() == 2
