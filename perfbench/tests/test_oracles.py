"""The corpus workload's exact-neighbour oracle and the closed loop."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from harness import closed_loop
from oracles import cosine_top10


def _embeddings(vecs: np.ndarray) -> pa.Table:
    n, dim = vecs.shape
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(vecs.astype(np.float32).ravel()),
    )
    return pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)), "embedding": emb})


def test_cosine_top10_matches_brute_force_and_excludes_the_query():
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 8))
    got = cosine_top10(_embeddings(vecs), query_mod=10)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    want = set()
    for q in range(3, 60, 10):
        ranked = sorted((n for n in range(60) if n != q), key=lambda n: (-unit[q] @ unit[n], n))
        want |= {(q, n) for n in ranked[:10]}
    assert got == want
    assert all(q != n for q, n in got)


def test_cosine_top10_breaks_ties_to_the_smaller_id():
    # query 3 and twelve identical vectors: every neighbour ties
    vecs = np.ones((13, 4))
    got = cosine_top10(_embeddings(vecs), query_mod=10)
    assert got == {(3, n) for n in (0, 1, 2, 4, 5, 6, 7, 8, 9, 10)}


def test_closed_loop_runs_a_fixed_set_and_counts_failures():
    def op(i: int) -> int:
        if i == 5:
            raise RuntimeError("boom")
        return 10 * i

    def check(i: int) -> None:
        if i == 6:
            raise AssertionError("wrong output")

    res = closed_loop(op, check, first=3, count=5)
    assert res.ops == [3, 4, 5, 6, 7]
    assert (res.attempted, res.failed) == (5, 2)
    assert res.ops_ok == [3, 4, 7]
    assert res.rows == [30, 40, 70]
    assert len(res.latencies) == 3
