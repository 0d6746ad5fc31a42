"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark at sf0.01 and its
``oracle_sql()`` on DuckDB over the same parquet files, then compares
row count, schema (column names), and an order-insensitive value hash
(columns sorted by name, rows sorted by their stringified tuple —
mirroring the driver's documented comparison). Queries without an
oracle get a rows-only check (runs + row count printed).

Usage: python scripts/check_oracle.py [--out FILE] [query ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01)

``--out FILE`` also writes the report to FILE. It is written to
``FILE.tmp`` and renamed into place only after the ``ran N of N``
footer, so FILE is either a complete report or absent — never a
truncated one.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import os
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from db_cdc_poc_spark.session import get_spark  # noqa: E402
from db_cdc_poc_spark.sources.testdata import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _norm(v):
    if isinstance(v, float):
        # driver-style float canonicalization: repr of the double
        return repr(v)
    return str(v)


def _value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


class _Tee:
    """A stdout that also writes, line-flushed, to the report file."""

    def __init__(self, *streams):
        self.streams = streams

    def write(self, s):
        for st in self.streams:
            st.write(s)
            st.flush()
        return len(s)

    def flush(self):
        for st in self.streams:
            st.flush()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", help="also write the report to this file")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    only = set(args.queries)
    qs = entrymod.queries()
    # Fail fast on typoed names: a silently-empty selection would print
    # "ALL GREEN" and exit 0 — a vacuous pass from the primary gate.
    unknown = sorted(only - set(qs))
    if unknown:
        # deliberate, format-stable message (test_contract greps for it)
        print("unknown query names: " + ", ".join(unknown))
        print("FAILURES: unknown query names (nothing ran)")
        return 1
    if not args.out:
        return run(qs, only)
    tmp = f"{args.out}.tmp"
    try:
        with open(tmp, "w") as fh, contextlib.redirect_stdout(
            _Tee(sys.stdout, fh)
        ):
            rc = run(qs, only)
    except BaseException:
        os.remove(tmp)
        raise
    # run() returned, so the "ran N of N" footer is in the file
    os.replace(tmp, args.out)
    return rc


def run(qs, only: set[str]) -> int:
    oracles = entrymod.oracle_sql()
    spark = get_spark()
    con = duckdb.connect()
    # big-SF oracle runs (the exact pair-join replays) need to spill:
    # an in-memory connection without a temp_directory can only grow
    # until the memory limit kills it. Harmless at sf0.01.
    tmp = os.environ.get("ORACLE_DUCKDB_TMP", "/tmp/duckdb_oracle_spill")
    Path(tmp).mkdir(parents=True, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute(
        f"SET memory_limit='{os.environ.get('ORACLE_DUCKDB_MEM', '40GB')}'"
    )
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    failures = []
    ran = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows-only, {len(srows)} rows  ({dt:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} != {sorted(ocols)}")
        else:
            sh = _value_hash(srows, scols)
            oh = _value_hash(orows, ocols)
            if sh != oh:
                problems.append(f"hash {sh} != {oh}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}  ({dt:.1f}s)")
            if sorted(scols) == sorted(ocols) and srows and orows:
                def rowset(rows, cols):
                    order = sorted(range(len(cols)), key=lambda i: cols[i])
                    return {tuple(_norm(r[i]) for i in order) for r in rows}

                sset, oset = rowset(srows, scols), rowset(orows, ocols)
                print(f"     spark-only: {list(sset - oset)[:3]}")
                print(f"     duck-only:  {list(oset - sset)[:3]}")
            failures.append(name)
        else:
            print(f"PASS {name}: {len(srows)} rows  ({dt:.1f}s)")
    requested = len(only) if only else len(qs)
    print(f"\nran {ran} of {requested} requested")
    print(f"{'ALL GREEN' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
