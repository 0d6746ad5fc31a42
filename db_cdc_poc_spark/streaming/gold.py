"""Incremental gold maintenance — the foreachBatch form of the
reference's ``inventory_current`` (04_Current_Inventory.sql:3 runs the
full gold query every 5-minute trigger; at a 100 TB keyspace that full
recompute is the first thing to hurt, so this maintains the SAME result
incrementally).

Semantics (04_Current_Inventory.sql:11-38): per snapshot key,

    current = snapshot_quantity + SUM(corrected changes at/after the
              snapshot time);   date_time = latest of those events

The per-key accumulator (change sum, latest change ts) is associative,
so micro-batches of the corrected change stream can be folded into a
``BucketedStateTable`` in any arrival order:

* seed: one state row per snapshot key — (snapshot_quantity,
  snapshot_ts, change_quantity=0, last_change_ts=null);
* per batch: join the batch's rows to the TOUCHED buckets' state on the
  key (bucket-local — the join reads O(touched state), not the
  keyspace), drop rows before their key's snapshot_ts, aggregate the
  batch's (sum, max ts) per key, and fold into the accumulator;
* read: current = snapshot + accumulated sum; date_time = greatest of
  snapshot/last-change ts. Keys without a snapshot row never enter the
  state — gold is snapshot-driven, same as the reference's LEFT JOIN.

Input contract: the DEDUPED, BOPIS-corrected silver change rows
(``pipelines.inventory.corrected_changes``) — dedup across batches is
the silver stream's job (T2), not gold's.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from db_cdc_poc_spark.checkpointing import materialize
from db_cdc_poc_spark.sources.exchange import local_df
from db_cdc_poc_spark.streaming.ephemeral import (
    discard_ephemeral_dir,
    drain_foreach_batch,
    ephemeral_checkpoint_dir,
)
from db_cdc_poc_spark.streaming.state import BucketedStateTable


class IncrementalGold:
    """foreachBatch-maintained current-inventory aggregate."""

    def __init__(
        self,
        path: str,
        snapshot: DataFrame,
        keys: Sequence[str] = ("store_id", "item_id"),
        snapshot_quantity_col: str = "quantity",
        snapshot_ts_col: str = "date_time_ts",
        num_buckets: int = 16,
    ) -> None:
        self.keys = list(keys)
        self.table = BucketedStateTable(path, self.keys, num_buckets=num_buckets)
        seed = snapshot.select(
            *self.keys,
            F.col(snapshot_quantity_col).alias("snapshot_quantity"),
            F.col(snapshot_ts_col).alias("snapshot_ts"),
            F.lit(0).cast("long").alias("change_quantity"),
            F.lit(None).cast("timestamp").alias("last_change_ts"),
        )
        self._schema: StructType = seed.schema
        self.table.merge_batch(seed, lambda state, b: b)

    # -- merge ------------------------------------------------------------

    def apply_changes_batch(
        self, batch: DataFrame, epoch_id: int | None = None
    ) -> None:
        """Fold one micro-batch of corrected change rows
        (keys..., date_time, quantity) into the accumulator."""

        def merge(state: DataFrame | None, b: DataFrame) -> DataFrame:
            if state is None:
                # these buckets hold no snapshot keys: changes for
                # unknown keys don't create gold rows (reference
                # semantics — snapshot LEFT JOIN changes)
                return local_df(b.sparkSession, [], self._schema)
            deltas = (
                b.join(state.select(*self.keys, "snapshot_ts"), self.keys)
                .filter(F.col("date_time") >= F.col("snapshot_ts"))
                .groupBy(*self.keys)
                .agg(
                    F.sum("quantity").cast("long").alias("__dq"),
                    F.max("date_time").alias("__dts"),
                )
            )
            return state.join(deltas, self.keys, "left").select(
                *self.keys,
                "snapshot_quantity",
                "snapshot_ts",
                (F.col("change_quantity") + F.coalesce("__dq", F.lit(0))).alias(
                    "change_quantity"
                ),
                # greatest skips nulls: first delta replaces the null seed
                F.greatest("last_change_ts", "__dts").alias("last_change_ts"),
            )

        self.table.merge_batch(batch, merge)

    # -- read -------------------------------------------------------------

    def current(self, spark: SparkSession) -> DataFrame:
        """The gold table, matching the batch ``inventory_current``
        column-for-column (04:11-17)."""
        state = self.table.state_for(spark)
        if state is None:
            raise ValueError(f"incremental gold {self.table.path} has no state yet")
        return state.select(
            *self.keys,
            "snapshot_quantity",
            "change_quantity",
            (F.col("snapshot_quantity") + F.col("change_quantity")).alias(
                "current_inventory"
            ),
            F.greatest(
                "snapshot_ts", F.coalesce("last_change_ts", "snapshot_ts")
            ).alias("date_time"),
        ).orderBy(F.col("date_time").desc())


class ChangelogFoldedAggregate:
    """Exactly-once incremental aggregate over a ``CdcTarget``, fed by
    the target's OWN applied-state delta (``CdcTarget.changes_since``)
    instead of a changelog derived from the trigger's batch.

    Why not fold the batch? The crash soak (``scripts/crash_soak.py``,
    CRASH_SOAK_sf1.txt) showed a batch-derived changelog breaks
    exactly-once under re-fired triggers: upstream operators (e.g. the
    streaming dedup index) legitimately re-decide on replay, so rows
    the crashed attempt committed never reappear in any batch's novel
    set — the fold misses them forever; and a replayed identical
    upsert double-folds. The state delta against the last FOLDED
    commit covers the trigger's whole effect no matter which attempt
    wrote it, and an identical replay yields an EMPTY delta.

    Per trigger, AFTER the target's upsert, call
    ``fold_trigger(spark, batch_keys)``:

    * ``batch_keys`` (a DataFrame of the trigger's key values) keeps
      the diff BATCH-bounded via ``changes_since``'s broadcast
      ``keys_filter`` — without it the diff is state-bounded. Safe
      because a key's applied row can only change in a trigger whose
      batch contains that key; pass ``None`` after a recovery gap
      whose batches are unknown (one state-bounded catch-up diff).
    * the fold advances the watermark to the target's latest commit;
      folding twice without an upsert in between is a no-op.

    Retention contract: the target's ``keep_versions`` must cover the
    fold's watermark lag plus crash slack — if the watermark commit
    has been vacuumed, ``changes_since`` raises
    ``StateVersionVacuumedError`` LOUDLY (propagated, never swallowed:
    silently refolding from scratch would double-count every key).

    The aggregate itself is ``delta_aggregate`` (operators/ivm.py):
    (group_keys..., n, sum of each measure), pinned to a tiny local
    DataFrame per trigger so each fold's plan is O(delta), not a
    growing plan-tree over every trigger so far.

    MIN/MAX measures (``min_cols``/``max_cols``) are maintained by the
    companion rule ``delta_minmax``: inserts fold with least/greatest,
    and ONLY groups whose retraction ties the stored extreme rescan —
    against the target's own applied state (``target.current``), which
    after the trigger's upsert IS the post-batch fact table the rule
    requires, key-pruned by the broadcast semi-join. This covers the
    reference's gold shape (MAX(date_time),
    notebooks/04_Current_Inventory.sql:17) under deletes — the
    aggregate a sum/count-only fold cannot maintain (VERDICT r11 ask
    #6). Exactly-once is inherited: an identical re-fired trigger
    yields an empty state delta, so neither rule moves.
    """

    def __init__(
        self,
        target,
        group_keys: Sequence[str],
        measures: Sequence[str] = (),
        count_col: str = "n",
        schema: str | None = None,
        min_cols: Sequence[str] = (),
        max_cols: Sequence[str] = (),
    ) -> None:
        if not (list(measures) or list(min_cols) or list(max_cols)):
            raise ValueError("need at least one of measures/min_cols/max_cols")
        clash = set(measures) & (set(min_cols) | set(max_cols))
        if clash:
            raise ValueError(
                f"columns {sorted(clash)} appear as both a sum measure and "
                "a min/max column; the two aggregate tables join on the "
                "group keys at read time, so alias one side to a distinct "
                "column name first"
            )
        self.target = target
        self.group_keys = list(group_keys)
        self.measures = list(measures)
        self.min_cols = list(min_cols)
        self.max_cols = list(max_cols)
        self.count_col = count_col
        # aggregate schema (DDL). Default: string group keys + long
        # sums; pass explicitly for non-string keys or wider sums.
        self._schema = schema or self._schema_ddl()
        self._agg: DataFrame | None = None
        # min/max table is separate state (delta_minmax maintains its
        # own count); its schema is inferred from the target's applied
        # state at first fold so timestamp/decimal extremes keep their
        # native types
        self._mm: DataFrame | None = None
        self._watermark: int | None = None

    @property
    def watermark(self) -> int | None:
        """Last folded commit (None until the first fold)."""
        return self._watermark

    def _schema_ddl(self) -> str:
        cols = ", ".join(
            [f"`{k}` string" for k in self.group_keys]
            + [f"`{self.count_col}` long"]
            + [f"`{m}` long" for m in self.measures]
        )
        return cols

    def fold_trigger(
        self, spark: SparkSession, batch_keys: DataFrame | None = None
    ) -> DataFrame:
        """Fold everything the target applied since the watermark;
        returns (and pins) the refreshed aggregate."""
        from db_cdc_poc_spark.operators.ivm import delta_aggregate

        delta = self.target.changes_since(
            spark, self._watermark, keys_filter=batch_keys
        )

        def _dims(side: str):
            return F.struct(
                *[F.col(f"{side}.{k}").alias(k) for k in self.group_keys],
                *[
                    F.col(f"{side}.{m}").cast("long").alias(m)
                    for m in self.measures
                ],
            )

        if self.measures:
            changes = delta.select(
                "op",
                F.when(F.col("before").isNotNull(), _dims("before")).alias(
                    "before"
                ),
                F.when(F.col("after").isNotNull(), _dims("after")).alias("after"),
            )
            base = self._agg
            if base is None:
                base = local_df(spark, [], self._schema)
            new_agg = delta_aggregate(
                base,
                changes,
                keys=self.group_keys,
                measures=self.measures,
                count_col=self.count_col,
            )
            # pin: the fold result is |groups|-sized (tiny); re-deriving
            # it lazily next trigger would chain every fold's plan
            # local_df (Arrow LocalRelation): the pickled re-create put a
            # Python-worker scan in EVERY later trigger's fold plan
            self._agg = local_df(spark, new_agg.collect(), new_agg.schema)
        if self.min_cols or self.max_cols:
            self._fold_minmax(spark, delta)
        commits = self.target.state.commits()
        if commits:
            self._watermark = commits[-1]
        return self.current(spark)

    def _fold_minmax(self, spark: SparkSession, delta: DataFrame) -> None:
        from db_cdc_poc_spark.operators.ivm import delta_minmax

        mm_cols = list(dict.fromkeys([*self.min_cols, *self.max_cols]))
        facts = self.target.current(spark)  # post-upsert applied state

        def _mm_struct(side: str):
            # native types (no cast): timestamp/decimal extremes must
            # round-trip exactly
            return F.struct(
                *[F.col(f"{side}.{k}").alias(k) for k in self.group_keys],
                *[F.col(f"{side}.{m}").alias(m) for m in mm_cols],
            )

        changes = delta.select(
            "op",
            F.when(F.col("before").isNotNull(), _mm_struct("before")).alias(
                "before"
            ),
            F.when(F.col("after").isNotNull(), _mm_struct("after")).alias(
                "after"
            ),
        )
        base = self._mm
        if base is None:
            fact_types = dict(facts.dtypes)
            ddl = ", ".join(
                [f"`{k}` {fact_types[k]}" for k in self.group_keys]
                + [f"`{self.count_col}` long"]
                + [f"`{m}` {fact_types[m]}" for m in mm_cols]
            )
            base = local_df(spark, [], ddl)
        new_mm = delta_minmax(
            base,
            changes,
            facts.select(*self.group_keys, *mm_cols),
            keys=self.group_keys,
            min_cols=self.min_cols,
            max_cols=self.max_cols,
            count_col=self.count_col,
        )
        self._mm = local_df(spark, new_mm.collect(), new_mm.schema)

    def current(self, spark: SparkSession) -> DataFrame:
        if self._agg is None and self._mm is None:
            raise ValueError("no fold has run yet")
        if self._agg is None:
            return self._mm
        if self._mm is None:
            return self._agg
        # same deltas maintain both tables, so the group sets agree;
        # n comes from the sum table
        return self._agg.join(
            self._mm.drop(self.count_col), self.group_keys, "inner"
        )


def stream_gold_inventory(
    spark: SparkSession,
    changes_path: str,
    snapshot: DataFrame,
    keys: Sequence[str] = ("store_id", "item_id"),
    state_path: str | None = None,
    max_files_per_trigger: int | None = None,
    num_buckets: int = 16,
) -> DataFrame:
    """Corrected-change file stream -> foreachBatch incremental gold ->
    final table. Equals the batch gold recompute over the same inputs
    regardless of micro-batch boundaries (asserted in tests across >=3
    batches with ``maxFilesPerTrigger=1``). Without ``state_path`` the
    state is scratch: the result is pinned and the state released."""
    path = state_path or ephemeral_checkpoint_dir("gold_state_")
    try:
        gold = IncrementalGold(path, snapshot, keys=keys, num_buckets=num_buckets)
        drain_foreach_batch(
            spark, changes_path, gold.apply_changes_batch, "gold", max_files_per_trigger
        )
        current = gold.current(spark)
        return current if state_path else materialize(current, label="gold-current")
    finally:
        if state_path is None:
            discard_ephemeral_dir(path)
