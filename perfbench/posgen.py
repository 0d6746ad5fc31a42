"""Seeded POS-format input generator (FIXTURES.md A1-A4).

Writes the reference's CSV layout (``pipelines.inventory`` reads it):

    store.txt, item<sfx>.txt, inventory_change_type.txt,
    inventory_change_{store001,online}<sfx>.txt,
    inventory_snapshot_{store001,online}<sfx>.txt

and, for the streaming workload, the two topic stand-ins as one
time-ordered JSON-lines file per slice (``write_topic_slices``).

Shape (A1/A3): two change feeds over 2021-01-01..2021-02-01; about 3.5%
of transactions carry 2-3 items; BOPIS orders appear in both feeds with
the same (trans_id, item_id, quantity, store_id = pickup store, type)
and the store copy 2-13.7 h after the online one; 7 snapshot epochs per
store about 4.4 days apart, each a rolling count of every item spread
over its epoch, so every day of the month carries some CDC upserts.
Only values and keys depend on the seed; the epoch schedule and the
expected row counts do not, so two seeds give runs of the same shape.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv

SUFFIX = "_gen"
START = np.datetime64("2021-01-01T00:00:00", "s")
END = np.datetime64("2021-02-01T00:00:00", "s")
N_EPOCHS = 7
EPOCH_S = 106 * 3600  # 7 epochs of ~4.4 days fill the month
EPOCH_GAP = np.timedelta64(EPOCH_S, "s")
BOPIS_LAG_S = (2 * 3600, int(13.7 * 3600))
MULTI_ITEM_SHARE = 0.035
STORES = {0: "online", 1: "store_001"}
CHANGE_TYPES = {1: "sale", 2: "shrink", 3: "restock", 4: "bopis"}


@dataclass(frozen=True)
class PosSpec:
    n_items: int
    n_changes: int  # change rows over the month, both feeds


def _guids(rng: np.random.Generator, n: int) -> np.ndarray:
    """Braced upper-case version-4 GUIDs, as the reference's trans_id."""
    raw = rng.integers(0, 256, size=(n, 16), dtype=np.uint8)
    raw[:, 6] = (raw[:, 6] & 0x0F) | 0x40
    raw[:, 8] = (raw[:, 8] & 0x3F) | 0x80
    h = raw.tobytes().hex().upper()
    return np.array(
        [
            f"{{{h[o:o + 8]}-{h[o + 8:o + 12]}-{h[o + 12:o + 16]}-{h[o + 16:o + 20]}-{h[o + 20:o + 32]}}}"
            for o in range(0, 32 * n, 32)
        ],
        dtype=object,
    )


def _transactions(rng: np.random.Generator, spec: PosSpec) -> pd.DataFrame:
    """One row per (transaction, item), BOPIS online copies included but
    not yet their store copies."""
    # rows per transaction: 2.5 items on a multi-item one; ~1% of rows
    # are the store copies of BOPIS orders, added by ``generate``
    n_tx = int(spec.n_changes / (1 + MULTI_ITEM_SHARE * 1.5) / 1.01)
    # feed: 0 = online, 1 = store001; type by feed
    feed = rng.integers(0, 2, size=n_tx)
    u = rng.random(n_tx)
    ctype = np.where(
        feed == 1,
        np.select([u < 0.82, u < 0.88], [1, 2], 3),  # sale/shrink/restock
        np.where(u < 0.98, 1, 4),  # online: sale or bopis
    )
    store = np.where(ctype == 4, 1, feed)  # bopis carries the pickup store
    # a BOPIS order is placed early enough for its pickup to fall
    # inside the month
    span = int((END - START) / np.timedelta64(1, "s"))
    span = np.where(ctype == 4, span - BOPIS_LAG_S[1] - 1, span)
    t = START + (rng.random(n_tx) * span).astype("timedelta64[s]")
    n_items_tx = np.where(
        rng.random(n_tx) < MULTI_ITEM_SHARE, rng.integers(2, 4, size=n_tx), 1
    )
    tx = np.repeat(np.arange(n_tx), n_items_tx)
    # distinct items within a transaction: consecutive offsets from a base
    first = np.repeat(np.cumsum(n_items_tx) - n_items_tx, n_items_tx)
    pos = np.arange(len(tx)) - first
    base = rng.integers(0, spec.n_items, size=n_tx)
    item = 100001 + (base[tx] + pos * 7919) % spec.n_items
    ct = ctype[tx]
    qty = np.select(
        [ct == 1, ct == 2, ct == 3],
        [
            rng.integers(-10, 0, size=len(tx)),
            np.full(len(tx), -1),
            np.where(rng.random(len(tx)) < 0.5, 40, 50),
        ],
        rng.integers(-9, 0, size=len(tx)),
    )
    return pd.DataFrame(
        {
            "trans_id": _guids(rng, n_tx)[tx],
            "item_id": item.astype(np.int32),
            "store_id": store[tx].astype(np.int32),
            "date_time": t[tx],
            "quantity": qty.astype(np.int32),
            "change_type_id": ct.astype(np.int32),
            "feed": feed[tx],
        }
    )


def generate(seed: int, spec: PosSpec) -> dict[str, pd.DataFrame]:
    """The generated tables as frames: ``change`` (both feeds, with a
    ``feed`` column), ``snapshot``, ``item``."""
    rng = np.random.default_rng([seed, 0x505])
    tx = _transactions(rng, spec)
    bopis = tx[tx["change_type_id"] == 4]
    lag = rng.integers(BOPIS_LAG_S[0], BOPIS_LAG_S[1] + 1, size=len(bopis))
    store_copy = bopis.assign(
        date_time=bopis["date_time"].to_numpy() + lag.astype("timedelta64[s]"),
        feed=1,
    )
    change = pd.concat([tx, store_copy], ignore_index=True)
    change = change.sort_values(["date_time", "trans_id", "item_id"], kind="stable")
    change = change.reset_index(drop=True)

    items = np.arange(100001, 100001 + spec.n_items, dtype=np.int32)
    snaps = []
    for store_id in STORES:
        for k in range(N_EPOCHS):
            # a rolling cycle count: every item is counted once per
            # epoch, at a random moment of the epoch's window
            t0 = START + k * EPOCH_GAP
            walk = rng.integers(0, EPOCH_S, size=spec.n_items)
            snaps.append(
                pd.DataFrame(
                    {
                        "item_id": items,
                        "employee_id": np.int32(1),
                        "store_id": np.int32(store_id),
                        "date_time": t0 + walk.astype("timedelta64[s]"),
                        "quantity": rng.integers(0, 500, size=spec.n_items).astype(np.int32),
                    }
                )
            )
    snapshot = pd.concat(snaps, ignore_index=True)
    item = pd.DataFrame(
        {
            "item_id": items,
            "name": [f"item {i}" for i in items],
            "supplier_id": rng.integers(1, 50, size=spec.n_items).astype(np.int32),
            "safety_stock_quantity": rng.integers(5, 60, size=spec.n_items).astype(np.int32),
        }
    )
    return {"change": change, "snapshot": snapshot, "item": item}


def _csv(df: pd.DataFrame, path: Path) -> None:
    # arrow prints second-resolution timestamps as 'yyyy-MM-dd HH:mm:ss',
    # the POS feeds' format (schemas.POS_TIMESTAMP_FORMAT)
    table = pa.Table.from_pandas(df, preserve_index=False)
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="none"))


def write_csvs(tables: dict[str, pd.DataFrame], out: Path) -> Path:
    """Write the reference CSV layout into ``out`` (created)."""
    out.mkdir(parents=True, exist_ok=True)
    _csv(pd.DataFrame({"store_id": list(STORES), "name": list(STORES.values())}),
         out / "store.txt")
    _csv(
        pd.DataFrame(
            {"change_type_id": list(CHANGE_TYPES), "change_type": list(CHANGE_TYPES.values())}
        ),
        out / "inventory_change_type.txt",
    )
    _csv(tables["item"], out / f"item{SUFFIX}.txt")
    change, snap = tables["change"], tables["snapshot"]
    cols = ["trans_id", "item_id", "store_id", "date_time", "quantity", "change_type_id"]
    for feed, name in ((1, "store001"), (0, "online")):
        _csv(change.loc[change["feed"] == feed, cols], out / f"inventory_change_{name}{SUFFIX}.txt")
        _csv(snap[snap["store_id"] == feed], out / f"inventory_snapshot_{name}{SUFFIX}.txt")
    return out


def slice_bounds(n_slices: int) -> np.ndarray:
    """Edges of ``n_slices`` equal event-time slices of the month."""
    span = (END - START) / np.timedelta64(1, "s")
    return START + np.round(np.linspace(0, span, n_slices + 1)).astype("timedelta64[s]")


def expected_silver_counts(change: pd.DataFrame, bounds: np.ndarray) -> list[int]:
    """Deduped (trans_id, item_id) count over all slices <= i, per i."""
    first = change.groupby(["trans_id", "item_id"])["date_time"].min().to_numpy()
    return [int((first < b).sum()) for b in bounds[1:]]


def _write_lines(path: Path, records: pd.DataFrame) -> None:
    records.to_json(path, orient="records", lines=True)


def write_topic_slices(
    events: pd.DataFrame, cdc: pd.DataFrame, bounds: np.ndarray, out: Path
) -> list[tuple[Path, Path, int]]:
    """One time-ordered JSON-lines file per slice per topic, staged in
    ``out/staged/{events,cdc}`` for the benchmark to land one slice at a
    time. ``events``: (date_time, value); ``cdc``: (date_time, key,
    value). Returns (events file, cdc file, record count) per slice."""
    for topic in ("events", "cdc"):
        (out / "staged" / topic).mkdir(parents=True, exist_ok=True)
    ev_slice = np.searchsorted(bounds, events["date_time"].to_numpy(), side="right") - 1
    cdc_slice = np.searchsorted(bounds, cdc["date_time"].to_numpy(), side="right") - 1
    staged = []
    for i in range(len(bounds) - 1):
        ev_path = out / "staged" / "events" / f"slice-{i:04d}.json"
        cdc_path = out / "staged" / "cdc" / f"slice-{i:04d}.json"
        ev, cd = events.loc[ev_slice == i, ["value"]], cdc.loc[cdc_slice == i, ["key", "value"]]
        _write_lines(ev_path, ev)
        _write_lines(cdc_path, cd)
        staged.append((ev_path, cdc_path, len(ev) + len(cd)))
    return staged


def topic_docs(spark, csv_dir: Path) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The two topics' records, built by the package's replay functions
    from the generated CSVs and ordered by event time: events
    (date_time, value) and Debezium CDC envelopes (date_time, key, value).
    """
    from pyspark.sql import functions as F

    from db_cdc_poc_spark import schemas
    from db_cdc_poc_spark.pipelines.replay import cdc_docs, transaction_docs
    from db_cdc_poc_spark.sources.files import read_csv

    def feeds(kind: str, schema):
        return read_csv(
            spark,
            [str(csv_dir / f"inventory_{kind}_{n}{SUFFIX}.txt") for n in ("store001", "online")],
            schema,
            timestamp_format=schemas.POS_TIMESTAMP_FORMAT,
        )

    events = (
        transaction_docs(feeds("change", schemas.INVENTORY_CHANGE_SCHEMA))
        .select("date_time", "value")
        .toPandas()
    )
    cdc = (
        cdc_docs(feeds("snapshot", schemas.INVENTORY_SNAPSHOT_SCHEMA))
        .withColumn(
            "date_time",
            F.timestamp_millis(F.get_json_object("value", "$.ts_ms").cast("long")),
        )
        .select("date_time", "key", "value")
        .toPandas()
    )
    order = ["date_time", "value"]
    return (
        events.sort_values(order, kind="stable").reset_index(drop=True),
        cdc.sort_values(order, kind="stable").reset_index(drop=True),
    )
