"""``corpus``: the LLM-corpus near-dup + vector-probe pass.

One operation is one pass over the generated corpus, in three steps:
exact trigram-Jaccard pairs (``ngram_jaccard_pairs``) clustered away by
``dedup_fuzzy``; MinHash-LSH pairs (``minhash_lsh_pairs``, 64 hashes,
16 bands, threshold 0.9); and a top-10 ``IvfIndex.probe`` (nprobe 4)
for a fixed query set. The index is built in set-up.
"""

from __future__ import annotations

import time
from pathlib import Path

import pyarrow.parquet as pq

import corpgen
import oracles
from harness import median
from tracing import SPARK_STATS

# 10,500 documents: above the 10,000-document line below which the
# exact pair dispatch takes the naive path (see NOTES.md)
SPEC = corpgen.CorpusSpec(base_docs=3_500, base_vecs=1_000, replicas=3)
QUERY_MOD = 97  # probe queries: the vectors with vec_id % 97 == 3


class Corpus:
    name = "corpus"
    warmup = 0  # full passes before timing starts (``warm_up`` instead)
    pass_s = 10.0  # nominal seconds per pass, to size the timed set

    def __init__(self, spark, tracer, seed: int) -> None:
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.first: dict | None = None
        self.recall: list[float] = []
        self.pairs: list[int] = []

    def prepare(self, dest: Path) -> float:
        """Generate the corpus and build the IVF index over its
        embeddings. Returns the seconds of package work: the build."""
        from db_cdc_poc_spark.operators.vector_index import IvfIndex

        self.paths = corpgen.write(self.seed, SPEC, dest)
        self.docs = self.spark.read.parquet(str(self.paths["documents"]))
        self.emb = emb = self.spark.read.parquet(str(self.paths["embeddings"]))
        centroids = emb.filter("vec_id % 191 = 0").select("vec_id", "embedding")
        t0 = time.perf_counter()
        with self.tracer.span("operators.vector_index.build"):
            self.index = IvfIndex.build(emb, centroids, str(dest / "ivf"))
        build_s = time.perf_counter() - t0
        self.queries = emb.filter(f"vec_id % {QUERY_MOD} = 3")
        return build_s

    def expected(self) -> None:
        """Exact answers, once: the q20 DuckDB oracle's pair set and the
        survivors it implies; exact top-10 cosine neighbours of every
        query, by brute force in numpy (ties to the smaller id, self
        excluded, as ``cosine_topk`` ranks them)."""
        docs = pq.read_table(self.paths["documents"])
        self.want_pairs = oracles.jaccard_pairs(docs)
        self.want_kept = oracles.fuzzy_survivors(docs.column("doc_id").to_pylist(), self.want_pairs)
        self.want_lsh = {k: v for k, v in self.want_pairs.items() if v >= 0.9}
        self.exact = oracles.cosine_top10(pq.read_table(self.paths["embeddings"]), QUERY_MOD)

    def timed_ops(self, seconds: float) -> int:
        """Passes timed in a run of ``seconds``: at least two, so the
        figures are medians, never a single pass."""
        return max(2, round(seconds / self.pass_s))

    def warm_up(self) -> None:
        """One pass over the first 1,000 documents, the Jaccard step
        forced onto the prefix-filter path the full corpus takes: the
        same plans get compiled and the JIT warmed at a fraction of a
        full pass."""
        self._pass(self.docs.filter("doc_id < 1000"), mode="prefix")

    def op(self, i: int) -> int:
        self.out = self._pass(self.docs)
        return SPEC.n_docs

    def _pass(self, docs, mode: str = "auto") -> dict:
        from db_cdc_poc_spark.operators.dedup import (
            dedup_fuzzy,
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
        )

        t, spark = self.tracer, self.spark
        with t.span("op"):
            with t.span("operators.dedup.jaccard_construct"):
                pairs_df = ngram_jaccard_pairs(docs, n=3, threshold=0.5, mode=mode)
            with t.span("operators.dedup.jaccard_execute"):
                pairs = pairs_df.collect()
            with t.span("operators.dedup.jaccard_construct"):
                local = spark.createDataFrame(
                    [(r.id_a, r.id_b) for r in pairs], "id_a long, id_b long"
                )
                kept_df = dedup_fuzzy(docs, local)
            with t.span("operators.dedup.jaccard_execute"):
                kept = kept_df.count()
            with t.span("operators.dedup.minhash"):
                lsh = minhash_lsh_pairs(docs, num_hashes=64, bands=16, threshold=0.9).collect()
            with t.span("operators.vector_index.probe"):
                probe = self.index.probe(spark, self.queries, k=10, nprobe=4).collect()
        return {
            "pairs": {(r.id_a, r.id_b): r.jaccard for r in pairs},
            "kept": kept,
            "lsh": {(r.id_a, r.id_b): r.jaccard for r in lsh},
            "probe": sorted(tuple(r) for r in probe),
        }

    def check(self, i: int) -> None:
        out = self.out
        if out["pairs"] != self.want_pairs:
            raise AssertionError(
                f"pass {i}: {len(out['pairs'])} Jaccard pairs, oracle has {len(self.want_pairs)}"
            )
        if out["kept"] != self.want_kept:
            raise AssertionError(f"pass {i}: dedup kept {out['kept']}, oracle {self.want_kept}")
        if out["lsh"] != self.want_lsh:
            raise AssertionError(
                f"pass {i}: {len(out['lsh'])} MinHash pairs, exact >= 0.9 has {len(self.want_lsh)}"
            )
        if self.first is None:
            self.first = out
        elif out["probe"] != self.first["probe"]:
            raise AssertionError(f"pass {i}: probe output differs from the first pass")
        got = {(q, n) for q, n, _, _ in out["probe"]}
        self.recall.append(len(got & self.exact) / len(self.exact))
        self.pairs.append(len(out["pairs"]))

    def layer_metrics(self) -> dict[str, float]:
        t = self.tracer
        jaccard = t.totals("operators.dedup.jaccard_construct")
        for c, e in zip(jaccard, t.totals("operators.dedup.jaccard_execute")):
            for k in SPARK_STATS:
                c.stats[k] += e.stats[k]
        return {
            "operators.dedup.jaccard_gc_share": _gc_share(jaccard),
            "operators.dedup.minhash_gc_share": _gc_share(t.totals("operators.dedup.minhash")),
            "operators.vector_index.probe_gc_share": _gc_share(
                t.totals("operators.vector_index.probe")
            ),
            "operators.dedup.pairs": median(self.pairs),
            "operators.vector_index.recall_at_10": median(self.recall),
        }


def _gc_share(spans) -> float:
    """Median over operations of GC time / task time inside the spans."""
    return median([s.stats["gc_s"] / s.stats["task_s"] if s.stats["task_s"] else 0.0 for s in spans])
