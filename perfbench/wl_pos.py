"""The POS product's workload, ``pos_stream``, over inputs from ``posgen``.

One operation is one day of the month. The day lands as one new file
in each topic directory (transaction events, Debezium CDC);
``run_ingestion`` resumes on the same checkpoints (streaming dedup
into the silver parquet sink, ``CdcTarget.upsert_batch`` into the
keyed state); the package's gold builder then runs over the streamed
silver tables and is collected. Latency runs from the landing to the
gold rows.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import numpy as np

import oracles
import posgen
from harness import median


def gold_frame(spark, csv_dir: Path, tracer, silver: dict | None = None):
    """The package's gold ``inventory_current`` over the generated CSVs,
    or, given ``silver``, over streamed silver tables in place of the
    registry's own ``inventory_change`` / ``inventory_snapshot``."""
    from db_cdc_poc_spark.pipelines.inventory import build_inventory_pipeline

    with tracer.span("pipelines.inventory.construct"):
        reg = build_inventory_pipeline(spark, str(csv_dir), posgen.SUFFIX)
        if silver is not None:
            reg.definition("inventory_change").builder = lambda: silver["inventory_change"]
            reg.definition("inventory_snapshot").builder = lambda: silver[
                "inventory_snapshot"
            ].select("item_id", "store_id", "quantity", "date_time_ts")
        gold = reg.build("inventory_current")
    if tracer.recording:
        with tracer.span("pipelines.inventory.plan"):
            gold._jdf.queryExecution().executedPlan()
    with tracer.span("pipelines.inventory.execute"):
        return gold.collect()


class PosStream:
    name = "pos_stream"
    spec = posgen.PosSpec(n_items=3_000, n_changes=60_000)
    n_slices = 31  # one per day of the month
    warmup = 2  # days streamed before timing starts
    day_s = 2.7  # nominal seconds per timed day, to size the timed set

    def __init__(self, spark, tracer, seed: int) -> None:
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.disk_mb: list[float] = []

    def prepare(self, dest: Path) -> float:
        """Generate the month, write the CSVs, replay them into
        transaction and Debezium documents and stage one file per day.
        Returns the seconds of package work: the replay."""
        tables = posgen.generate(self.seed, self.spec)
        self.csv_dir = posgen.write_csvs(tables, dest / "csv")
        t0 = time.perf_counter()
        events, cdc = posgen.topic_docs(self.spark, self.csv_dir)
        replay_s = time.perf_counter() - t0
        self.bounds = posgen.slice_bounds(self.n_slices)
        self.staged = posgen.write_topic_slices(events, cdc, self.bounds, dest)
        self.expected_silver = posgen.expected_silver_counts(tables["change"], self.bounds)
        self.topics = dest / "topics"
        self.out_root = dest / "out"
        for topic in ("events", "cdc"):
            (self.topics / topic).mkdir(parents=True)
        return replay_s

    def timed_ops(self, seconds: float) -> int:
        """Days timed in a run of ``seconds``. A day costs more the
        later it comes (state and silver grow), so the run times the
        same days whatever the speed of the code under test."""
        return min(max(3, round(seconds / self.day_s)), self.n_slices - self.warmup)

    def op(self, i: int) -> int:
        from db_cdc_poc_spark.pipelines.inventory_streaming import run_ingestion

        t = self.tracer
        with t.span("op"):
            events, cdc, records = self.staged[i]
            shutil.copyfile(events, self.topics / "events" / events.name)
            shutil.copyfile(cdc, self.topics / "cdc" / cdc.name)
            with t.span("pipelines.inventory_streaming.run_ingestion"):
                self.silver = run_ingestion(
                    self.spark,
                    str(self.topics / "events"),
                    str(self.topics / "cdc"),
                    str(self.out_root),
                )
            with t.span("pipelines.inventory.gold_refresh"):
                self.gold = gold_frame(self.spark, self.csv_dir, t, self.silver)
        return records

    def check(self, i: int) -> None:
        """After every day: the streamed silver holds exactly the rows
        batch dedup keeps over the days so far."""
        n = self.silver["inventory_change"].count()
        if n != self.expected_silver[i]:
            raise AssertionError(
                f"day {i}: streamed silver has {n} rows, batch dedup over days <= {i} has "
                f"{self.expected_silver[i]}"
            )
        if self.tracer.recording:
            state = self.out_root / "inventory_snapshot_state"
            self.disk_mb.append(
                sum(p.stat().st_size for p in state.rglob("*") if p.is_file()) / 2**20
            )

    def layer_probes(self) -> None:
        """The batch silver layers under the gold query, each counted
        alone over the month's CSVs (the stream replaces them with
        its own silver tables)."""
        from db_cdc_poc_spark import schemas
        from db_cdc_poc_spark.pipelines.inventory import build_inventory_pipeline
        from db_cdc_poc_spark.sources.files import read_csv

        d, t, spark = self.csv_dir, self.tracer, self.spark
        with t.span("sources.files.scan"):
            for kind, schema in (
                ("change", schemas.INVENTORY_CHANGE_SCHEMA),
                ("snapshot", schemas.INVENTORY_SNAPSHOT_SCHEMA),
            ):
                files = [str(d / f"inventory_{kind}_{n}{posgen.SUFFIX}.txt") for n in ("store001", "online")]
                read_csv(spark, files, schema, timestamp_format=schemas.POS_TIMESTAMP_FORMAT).count()
        for span, table in (
            ("operators.dedup.dedup_exact", "inventory_change"),
            ("operators.cdc.latest_by_key", "inventory_snapshot"),
        ):
            with t.span(span):
                build_inventory_pipeline(spark, str(d), posgen.SUFFIX).build(table).count()

    def final_check(self, last: int) -> None:
        """After the last day: streamed gold equals the reference gold
        query over every event up to that day's end."""
        before = str(self.bounds[last + 1]).replace("T", " ")
        want = oracles.gold_rows(self.csv_dir, before=before)
        got = sorted(tuple(r) for r in self.gold)
        if got != want:
            raise AssertionError(
                f"streamed gold after day {last} differs from the oracle in "
                f"{len(set(got) ^ set(want))} rows"
            )

    def layer_metrics(self) -> dict[str, float]:
        """Per-drain figures from the listener's progress events, each a
        median over the traced drains."""
        progress = self.tracer.listener.progress
        per: dict[str, list[float]] = {}

        def add(name: str, value: float) -> None:
            per.setdefault(name, []).append(value)

        for d in self.tracer.by_name("pipelines.inventory_streaming.run_ingestion"):
            trig = {"events": 0.0, "cdc": 0.0}
            batch = {"events": 0.0, "cdc": 0.0}
            off = plan = commit = 0.0
            state_rows = state_mb = 0.0
            for p in progress:
                if not d.start <= _epoch_s(p["timestamp"]) <= d.end:
                    continue
                ms = p.get("durationMs", {})
                q = "cdc" if "ForeachBatchSink" in p["sink"]["description"] else "events"
                trig[q] += ms.get("triggerExecution", 0) / 1000
                batch[q] += ms.get("addBatch", 0) / 1000
                off += (ms.get("latestOffset", 0) + ms.get("getBatch", 0)) / 1000
                plan += ms.get("queryPlanning", 0) / 1000
                commit += (ms.get("walCommit", 0) + ms.get("commitOffsets", 0)) / 1000
                if q == "events" and p.get("stateOperators"):
                    state_rows = p["stateOperators"][0]["numRowsTotal"]
                    state_mb = p["stateOperators"][0]["memoryUsedBytes"] / 2**20
            for q in ("events", "cdc"):
                add(f"streaming.{q}.trigger_s", trig[q])
                add(f"streaming.{q}.add_batch_s", batch[q])
            add("streaming.offsets_s", off)
            add("streaming.planning_s", plan)
            add("streaming.commit_s", commit)
            # the drain's wall time not spent inside the longer query's triggers
            add("streaming.drain_floor_s", d.seconds - max(trig.values()))
            add("streaming.dedup_state_rows", state_rows)
            add("streaming.dedup_state_mb", state_mb)
        out = {k: median(v) for k, v in per.items()}
        out["streaming.state.disk_mb"] = median(self.disk_mb)
        return out


def _epoch_s(iso: str) -> float:
    """Seconds since the epoch of a progress timestamp ('...Z', UTC)."""
    return (np.datetime64(iso.rstrip("Z"), "ms") - np.datetime64(0, "ms")) / np.timedelta64(1, "s")
