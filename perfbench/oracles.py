"""Independent answers the workloads' outputs are checked against,
computed with DuckDB (and plain Python) outside the timed region."""

from __future__ import annotations

from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa

from posgen import SUFFIX

_CHANGE_COLS = (
    "{'trans_id': 'VARCHAR', 'item_id': 'INTEGER', 'store_id': 'INTEGER', "
    "'date_time': 'TIMESTAMP', 'quantity': 'INTEGER', 'change_type_id': 'INTEGER'}"
)
_SNAP_COLS = (
    "{'item_id': 'INTEGER', 'employee_id': 'INTEGER', 'store_id': 'INTEGER', "
    "'date_time': 'TIMESTAMP', 'quantity': 'INTEGER'}"
)


def gold_rows(csv_dir: Path, before: str | None = None) -> list[tuple]:
    """The reference's 04_Current_Inventory query over the generated
    CSVs, with the silver steps it reads (dedup keeping the earliest
    copy, latest snapshot per key). ``before`` ('yyyy-mm-dd hh:mm:ss')
    restricts both feeds to the events a stream has seen so far.
    Rows: (store_id, item_id, snapshot_quantity, change_quantity,
    current_inventory, date_time), sorted."""
    d = str(csv_dir)
    cut = f"WHERE date_time < TIMESTAMP '{before}'" if before else ""

    def feeds(kind: str, cols: str) -> str:
        files = ", ".join(f"'{d}/inventory_{kind}_{n}{SUFFIX}.txt'" for n in ("store001", "online"))
        return f"SELECT * FROM read_csv([{files}], header=true, columns={cols}) {cut}"

    sql = f"""
    WITH raw AS ({feeds("change", _CHANGE_COLS)}),
    change AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY trans_id, item_id
                                         ORDER BY date_time, store_id DESC) AS rn
            FROM raw) WHERE rn = 1
    ),
    snap_raw AS ({feeds("snapshot", _SNAP_COLS)}),
    snap AS (
        SELECT item_id, store_id, quantity, date_time AS date_time_ts FROM (
            SELECT *, row_number() OVER (PARTITION BY item_id, store_id
                                         ORDER BY date_time DESC, employee_id DESC) AS rn
            FROM snap_raw) WHERE rn = 1
    ),
    store AS (SELECT * FROM read_csv('{d}/store.txt', header=true,
              columns={{'store_id': 'INTEGER', 'name': 'VARCHAR'}})),
    ctype AS (SELECT * FROM read_csv('{d}/inventory_change_type.txt', header=true,
              columns={{'change_type_id': 'INTEGER', 'change_type': 'VARCHAR'}}))
    SELECT a.store_id, a.item_id,
           a.quantity AS snapshot_quantity,
           coalesce(sum(b.quantity), 0) AS change_quantity,
           a.quantity + coalesce(sum(b.quantity), 0) AS current_inventory,
           greatest(a.date_time_ts, coalesce(max(b.date_time), a.date_time_ts)) AS date_time
    FROM snap a
    LEFT JOIN (
        SELECT x.store_id, x.item_id, x.date_time, x.quantity
        FROM change x
        JOIN store y ON x.store_id = y.store_id
        JOIN ctype z ON x.change_type_id = z.change_type_id
        WHERE NOT (y.name = 'online' AND z.change_type = 'bopis')
    ) b ON a.store_id = b.store_id AND a.item_id = b.item_id
       AND a.date_time_ts <= b.date_time
    GROUP BY a.store_id, a.item_id, a.quantity, a.date_time_ts
    """
    with duckdb.connect() as con:
        return sorted(con.sql(sql).fetchall())


def jaccard_pairs(documents: pa.Table) -> dict[tuple[int, int], float]:
    """Exact word-trigram Jaccard pairs >= 0.5: the registry's own
    DuckDB oracle for q20_ngram_jaccard, run over ``documents``."""
    from db_cdc_poc_spark import queries

    sql = queries.registry()["q20_ngram_jaccard"].oracle
    with duckdb.connect() as con:
        con.register("documents", documents)
        return {(a, b): j for a, b, j in con.sql(sql).fetchall()}


def cosine_top10(embeddings: pa.Table, query_mod: int) -> set[tuple[int, int]]:
    """(query_id, neighbor_id) of the exact top-10 cosine neighbours of
    every vector with ``vec_id % query_mod == 3``, itself excluded,
    ties to the smaller id."""
    ids = embeddings.column("vec_id").to_numpy()
    vecs = np.stack(embeddings.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out = set()
    for qi in np.flatnonzero(ids % query_mod == 3):
        cos = vecs @ vecs[qi]
        cos[qi] = -np.inf
        for n in np.lexsort((ids, -cos))[:10]:
            out.add((int(ids[qi]), int(ids[n])))
    return out


def fuzzy_survivors(doc_ids: list[int], pairs) -> int:
    """Documents left after near-dup clustering keeps one (the smallest
    id) per connected component of the pair graph."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sum(1 for d in doc_ids if find(d) == d)
