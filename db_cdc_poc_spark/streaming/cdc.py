"""Incremental CDC apply — the streaming form of ``dlt.apply_changes``.

The batch operator (operators/cdc.py) reduces a whole changelog at
once; this module maintains a keyed state table across micro-batches
via ``foreachBatch`` (reference: 03_Ingestion.py:318-326 —
``dlt.create_target_table`` + ``dlt.apply_changes``; OSS Spark has no
managed upsert sink, so we build one on parquet).

State mechanics (hash-bucketed version chains, touched-buckets-only
rewrites) live in ``streaming/state.py``; this module plugs in the CDC
merge: the target stores the LATEST CHANGELOG ROW per key — including
delete markers and the sequencing columns. Keeping delete rows in
state (rather than physically removing keys) makes the merge
associative::

    latest(state ∪ batch) == latest(full changelog so far)

so out-of-order rows *across* micro-batches resolve correctly: a stale
update arriving after a newer one (or after a delete) loses the max_by
and leaves state unchanged. Reads filter deletes and drop bookkeeping
columns.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from db_cdc_poc_spark.checkpointing import materialize
from db_cdc_poc_spark.operators.cdc import latest_by_key
from db_cdc_poc_spark.streaming.ephemeral import (
    discard_ephemeral_dir,
    drain_foreach_batch,
    ephemeral_checkpoint_dir,
)
from db_cdc_poc_spark.streaming.state import BucketedStateTable, unify_schemas


def _widen_to(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Cast ``df``'s columns to their (wider) types in ``schema``."""
    casts = {
        f.name: F.col(f.name).cast(schema[f.name].dataType)
        for f in df.schema.fields
        if f.dataType != schema[f.name].dataType
    }
    return df.withColumns(casts) if casts else df


def _snapshot_diff(keys: list[str], old: DataFrame, new: DataFrame) -> DataFrame:
    """The one snapshot diff behind ``CdcTarget.changes_since`` and
    :func:`state_diff`: a full outer join of two applied views on
    ``keys``, one ``(keys..., before, after)`` row per key whose row
    differs, the non-key columns packed into a struct (NULL on the
    missing side). The payload is the union of both views' columns,
    numerics widened (:func:`unify_schemas`), so a column added or
    widened in between is NULL/widened on the older side and a change
    in it still diffs."""
    unified = unify_schemas([old.schema, new.schema])
    val_fields = [f for f in unified.fields if f.name not in keys]

    def payload(df: DataFrame) -> Column:
        return F.struct(
            *[
                (
                    F.col(f.name).cast(f.dataType)
                    if f.name in df.columns
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in val_fields
            ]
        )

    n = new.select(*keys, payload(new).alias("after"))
    o = old.select(*keys, payload(old).alias("before"))
    # unchanged keys produce no row: a replayed identical upsert must
    # yield an EMPTY delta
    return n.join(o, keys, "full_outer").filter(
        F.col("before").isNull()
        | F.col("after").isNull()
        | (F.col("before") != F.col("after"))
    )


class CdcTarget:
    """A keyed upsert target backed by hash-bucketed versioned parquet
    state (S6/S8: the engine's stand-in for ``dlt.create_target_table``)."""

    def __init__(
        self,
        path: str,
        keys: str | Sequence[str],
        sequence_by: str | Sequence[str],
        apply_as_deletes: str | None = None,
        except_columns: Sequence[str] = (),
        tie_breakers: str | Sequence[str] = (),
        keep_versions: int = 2,
        num_buckets: int = 16,
    ) -> None:
        self.keys = [keys] if isinstance(keys, str) else list(keys)
        self.sequence_by = sequence_by
        self.apply_as_deletes = apply_as_deletes
        self.except_columns = list(except_columns)
        self.tie_breakers = tie_breakers
        self.state = BucketedStateTable(
            path, self.keys, num_buckets=num_buckets, keep_versions=keep_versions
        )

    @property
    def path(self):
        return self.state.path

    @property
    def num_buckets(self) -> int:
        return self.state.num_buckets

    def bucket_expr(self) -> Column:
        return self.state.bucket_expr()

    # -- merge ------------------------------------------------------------

    def upsert_batch(self, batch: DataFrame, epoch_id: int | None = None) -> None:
        """Merge one micro-batch: for every bucket the batch touches,
        new bucket state = latest(bucket state ∪ bucket's batch slice).
        Untouched buckets are neither read nor written. Called from
        foreachBatch.
        """

        def merge(state: DataFrame | None, b: DataFrame) -> DataFrame:
            # Schema evolution, two safe forms only (unify_schemas):
            # - additive (allowMissingColumns): a batch carrying a NEW
            #   column widens the state, old rows take NULL; a batch
            #   missing a state column keeps it, its rows take NULL.
            # - in-family numeric widening (int->long, float->double):
            #   both sides are cast to the wider type before the union,
            #   so the touched bucket is rewritten widened; untouched
            #   buckets up-cast on read (state._read_chains).
            # Drops/renames/cross-family changes stay hard errors —
            # silent coercion corrupts CDC state.
            merged = b
            if state is not None:
                unified = unify_schemas([state.schema, b.schema])
                merged = _widen_to(state, unified).unionByName(
                    _widen_to(b, unified), allowMissingColumns=True
                )
            return latest_by_key(merged, self.keys, self.sequence_by, self.tie_breakers)

        self.state.merge_batch(batch, merge)

    # -- read -------------------------------------------------------------

    def _applied(self, state: DataFrame | None, missing: str) -> DataFrame:
        """State rows -> the applied view: deletes filtered, bookkeeping
        columns dropped. ``missing`` completes the error for no state."""
        if state is None:
            raise ValueError(f"CDC target {self.path} {missing}")
        if self.apply_as_deletes is not None:
            state = state.filter(~F.expr(self.apply_as_deletes))
        drop = [c for c in self.except_columns if c in state.columns]
        return state.drop(*drop) if drop else state

    def current(self, spark: SparkSession) -> DataFrame:
        """The applied table: latest rows, deletes filtered, bookkeeping
        columns dropped — what ``dlt.apply_changes`` exposes."""
        return self._applied(self.state.state_for(spark), "has no state yet")

    def current_at(self, spark: SparkSession, commit: int) -> DataFrame:
        """Time travel: the applied table as of an earlier micro-batch
        commit (``state.commits()`` lists them; retention bounded by
        ``keep_versions`` — see ``BucketedStateTable.state_at``)."""
        return self._applied(
            self.state.state_at(spark, commit), f"empty at commit {commit}"
        )

    def changes_since(
        self,
        spark: SparkSession,
        commit: int | None,
        keys_filter: DataFrame | None = None,
    ) -> DataFrame:
        """Applied-state delta between a committed watermark and now:
        one ``(keys..., op, before, after)`` row per key whose applied
        row changed — ``op`` 'c' (new key), 'u' (payload changed), 'd'
        (delete applied); ``before``/``after`` are structs of the
        applied view's non-key columns (NULL on the missing side).

        This is the changelog a downstream incremental aggregate must
        fold to stay EXACTLY-ONCE across re-fired triggers (the crash
        soak's finding, ``scripts/crash_soak.py`` / SCALING.md): after
        a crash between the state commit and the fold, a changelog
        derived from the trigger's own batch permanently misses rows
        the crashed attempt committed — upstream operators (e.g. the
        streaming dedup index) legitimately re-decide on replay. The
        state delta against the last FOLDED commit covers the
        trigger's whole effect no matter which attempt wrote it, and a
        replayed identical upsert yields an empty delta (fold is a
        no-op). Retention: ``keep_versions`` must cover the fold's
        watermark lag plus crash slack.

        ``commit=None`` means "everything" (every applied row as 'c').
        ``keys_filter`` (a DataFrame of key columns) prunes the diff to
        those keys — pass the trigger's batch keys to keep the work
        batch-bounded instead of state-bounded.
        """
        def only_filtered(df: DataFrame) -> DataFrame:
            if keys_filter is None:
                return df
            return df.join(
                F.broadcast(keys_filter.select(*self.keys).distinct()), self.keys
            )

        new = only_filtered(self.current(spark))
        if commit is None:
            payload_fields = [
                f for f in new.schema.fields if f.name not in self.keys
            ]
            return new.select(
                *self.keys,
                F.lit("c").alias("op"),
                F.lit(None)
                .cast(T.StructType(payload_fields))
                .alias("before"),
                F.struct(*[f.name for f in payload_fields]).alias("after"),
            )
        old = only_filtered(self.current_at(spark, commit))
        return _snapshot_diff(self.keys, old, new).select(
            *self.keys,
            F.when(F.col("before").isNull(), F.lit("c"))
            .when(F.col("after").isNull(), F.lit("d"))
            .otherwise(F.lit("u"))
            .alias("op"),
            "before",
            "after",
        )


def stream_apply_changes(
    spark: SparkSession,
    source_path: str,
    keys: str | Sequence[str],
    sequence_by: str | Sequence[str],
    apply_as_deletes: str | None = None,
    except_columns: Sequence[str] = (),
    tie_breakers: str | Sequence[str] = (),
    state_path: str | None = None,
    max_files_per_trigger: int | None = None,
    num_buckets: int = 16,
    checkpoint_path: str | None = None,
) -> DataFrame:
    """File stream -> foreachBatch incremental CDC apply -> final table.

    Drains ``source_path`` with an ``availableNow`` trigger, merging
    each micro-batch into a ``CdcTarget``, and returns the final
    applied table. Equals batch ``apply_changes`` over the same data
    regardless of how rows split across micro-batches (asserted in
    tests with ``max_files_per_trigger=1`` over multi-file input).

    Pass the SAME ``state_path`` + ``checkpoint_path`` to resume after
    a stop/crash: the checkpoint's file-source log skips every file an
    earlier run committed, so only new files merge into the state —
    no double application (asserted in the restart test). This is the
    fault-tolerance contract (T6) the reference delegates to DLT.
    Without ``state_path`` the state is scratch: the result is pinned
    and the state released.
    """
    path = state_path or ephemeral_checkpoint_dir("cdc_state_")
    target = CdcTarget(
        path,
        keys=keys,
        sequence_by=sequence_by,
        apply_as_deletes=apply_as_deletes,
        except_columns=except_columns,
        tie_breakers=tie_breakers,
        num_buckets=num_buckets,
    )
    try:
        drain_foreach_batch(
            spark,
            source_path,
            target.upsert_batch,
            "cdc",
            max_files_per_trigger,
            checkpoint_path=checkpoint_path,
        )
        current = target.current(spark)
        return current if state_path else materialize(current, label="cdc-applied")
    finally:
        if state_path is None:
            discard_ephemeral_dir(path)


def state_diff(
    target: "CdcTarget",
    spark: SparkSession,
    from_commit: int,
    to_commit: int,
) -> DataFrame:
    """CDC audit diff: what changed in the applied table between two
    commits — the "show me what micro-batches 3..7 did" question a
    keyed sink must answer (Delta's table-changes / CDF analogue on
    the bucketed state store).

    Full outer join of the two time-travel snapshots on the target's
    keys, classified per key: ``added`` (only in ``to``), ``removed``
    (only in ``from`` — a delete applied in between), ``changed`` (both
    sides present, any non-key column differs). Unchanged keys are
    dropped. One shuffle on the keys; at production keyspace both
    snapshots come off the same bucket layout, so the join co-locates.

    Output: key columns + ``change_kind``.
    """
    diff = _snapshot_diff(
        target.keys,
        target.current_at(spark, from_commit),
        target.current_at(spark, to_commit),
    )
    return diff.select(
        *target.keys,
        F.when(F.col("before").isNull(), F.lit("added"))
        .when(F.col("after").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change_kind"),
    )
