"""The POS input generator: seeded, byte-reproducible, and shaped like
the reference data (FIXTURES.md A1-A4)."""

from __future__ import annotations

import json

import numpy as np
import pytest

import posgen

SPEC = posgen.PosSpec(n_items=300, n_changes=6_000)
HOUR = np.timedelta64(3600, "s")


def _files(root):
    return {p.relative_to(root): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


@pytest.fixture(scope="module")
def tables():
    return posgen.generate(7, SPEC)


def test_same_seed_gives_byte_identical_csvs(tmp_path):
    a = posgen.write_csvs(posgen.generate(7, SPEC), tmp_path / "a")
    b = posgen.write_csvs(posgen.generate(7, SPEC), tmp_path / "b")
    assert _files(a) == _files(b)


def test_other_seed_differs_with_the_same_shape(tmp_path, tables):
    other = posgen.generate(8, SPEC)
    a = _files(posgen.write_csvs(tables, tmp_path / "a"))
    b = _files(posgen.write_csvs(other, tmp_path / "b"))
    assert a.keys() == b.keys()
    assert a[next(k for k in a if "change_online" in str(k))] != b[next(k for k in b if "change_online" in str(k))]
    for t in (tables, other):
        change = t["change"]
        assert abs(len(change) - SPEC.n_changes) <= 0.05 * SPEC.n_changes
        assert len(t["snapshot"]) == SPEC.n_items * 2 * posgen.N_EPOCHS
    shares = [
        (t["change"].groupby("trans_id")["item_id"].nunique() > 1).mean() for t in (tables, other)
    ]
    assert abs(shares[0] - shares[1]) < 0.015


def test_two_feeds_and_bopis_duplicated_across_them(tables):
    change = tables["change"]
    assert set(change.loc[change["feed"] == 1, "store_id"]) == {1}
    online = change[change["feed"] == 0]
    assert set(online.loc[online["change_type_id"] != 4, "store_id"]) == {0}
    bopis = change[change["change_type_id"] == 4]
    pairs = bopis.groupby(["trans_id", "item_id"])
    assert (pairs.size() == 2).all() and len(pairs) > 0
    first = pairs.apply(lambda g: g.sort_values("date_time").iloc[0], include_groups=False)
    last = pairs.apply(lambda g: g.sort_values("date_time").iloc[1], include_groups=False)
    assert (first["feed"] == 0).all() and (last["feed"] == 1).all()
    assert (first["quantity"] == last["quantity"]).all()
    assert (first["store_id"] == last["store_id"]).all()
    lag = (last["date_time"] - first["date_time"]).to_numpy()
    assert (lag >= 2 * HOUR).all() and (lag <= 13.7 * HOUR).all()
    # nothing else repeats a (trans_id, item_id)
    assert change.duplicated(["trans_id", "item_id"]).sum() == len(pairs)


def test_multi_item_share_quantities_and_month(tables):
    change = tables["change"]
    share = (change.groupby("trans_id")["item_id"].nunique() > 1).mean()
    assert 0.025 <= share <= 0.045
    q, t = change["quantity"], change["change_type_id"]
    assert q[t == 1].between(-10, -1).all()
    assert (q[t == 2] == -1).all()
    assert q[t == 3].isin([40, 50]).all()
    assert q[t == 4].between(-9, -1).all()
    assert change["trans_id"].str.fullmatch(r"\{[0-9A-F]{8}(-[0-9A-F]{4}){3}-[0-9A-F]{12}\}").all()
    dt = change["date_time"]
    assert (dt >= posgen.START).all() and (dt < posgen.END).all()


def test_seven_snapshot_epochs_per_store(tables):
    snap = tables["snapshot"]
    for store_id, per_store in snap.groupby("store_id"):
        epoch = ((per_store["date_time"] - posgen.START) // posgen.EPOCH_GAP).to_numpy()
        assert sorted(set(epoch)) == list(range(posgen.N_EPOCHS))
        counts = per_store.assign(epoch=epoch).groupby(["epoch", "item_id"]).size()
        assert (counts == 1).all() and len(counts) == SPEC.n_items * posgen.N_EPOCHS
    assert (snap["employee_id"] == 1).all()
    assert (snap["date_time"] < posgen.END).all()


def test_expected_silver_counts_are_cumulative_distinct_keys(tables):
    bounds = posgen.slice_bounds(31)
    counts = posgen.expected_silver_counts(tables["change"], bounds)
    assert counts == sorted(counts)
    assert counts[-1] == len(tables["change"].drop_duplicates(["trans_id", "item_id"]))


def test_topic_slices_are_time_ordered_debezium_envelopes(spark, tmp_path, tables):
    csv = posgen.write_csvs(tables, tmp_path / "csv")
    events, cdc = posgen.topic_docs(spark, csv)
    bounds = posgen.slice_bounds(31)
    staged = posgen.write_topic_slices(events, cdc, bounds, tmp_path)
    assert len(staged) == 31
    n_events = n_cdc = 0
    for i, (ev_path, cdc_path, records) in enumerate(staged):
        ev = [json.loads(json.loads(line)["value"]) for line in ev_path.read_text().splitlines() if line]
        cd = [json.loads(line) for line in cdc_path.read_text().splitlines() if line]
        assert records == len(ev) + len(cd)
        lo, hi = bounds[i], bounds[i + 1]
        for doc in ev:
            t = np.datetime64(doc["date_time"].rstrip("Z"), "s")
            assert lo <= t < hi
            assert doc["items"] and "{" not in doc["trans_id"]
        for rec in cd:
            key, value = json.loads(rec["key"]), json.loads(rec["value"])
            assert set(key) == {"item_id", "store_id"}
            assert value["op"] == "u"
            assert value["after"]["date_time"] == value["ts_ms"] * 1000
            t = np.datetime64(value["ts_ms"], "ms")
            assert lo <= t < hi
        n_events += len(ev)
        n_cdc += len(cd)
    assert n_cdc == len(tables["snapshot"])
    assert n_events == tables["change"].groupby(["trans_id", "date_time"]).ngroups
    # and the same seed stages the same bytes
    again = posgen.write_topic_slices(*posgen.topic_docs(spark, csv), bounds, tmp_path / "again")
    assert all(a.read_bytes() == b.read_bytes() for x, y in zip(staged, again) for a, b in zip(x[:2], y[:2]))
