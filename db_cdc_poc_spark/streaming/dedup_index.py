"""Continuous corpus dedup: a persisted MinHash-LSH index that each
micro-batch of incoming documents probes and extends.

The batch fuzzy-dedup operators (`operators/dedup.py`) answer "which
pairs in THIS corpus are near-dups". A training-data ingest runs
forever: every arriving document must be checked against everything
already seen, cheaply, without rescanning the corpus. This module is
that shape:

1. the batch's MinHash band hashes are computed
   (`dedup.minhash_bands` — the same unit the batch LSH uses);
2. the persisted band index (a `BucketedStateTable` keyed by
   (band_id, band_hash)) is probed — ONLY the state buckets the
   batch's band hashes route to are read, so probe I/O scales with
   batch size, not corpus size;
3. collisions are screened by signature-agreement Jaccard
   (`dedup.est_jaccard_col`), batch-internal near-dups are found the
   same way, and each document is ruled novel or duplicate;
4. the batch's band rows and signatures are APPENDED to the index.

Storage is NORMALIZED into two tables (round 9, after the sf1 soak):
band rows `(band_id, band_hash, id)` — 24 bytes/row — and signatures
`(id, sig)` once per document. The original layout carried the
~512-byte signature on every band row (bands× duplication), so the
probe read bands× more bytes than it needed; at 100k docs the soak
measured the index at 1.6 GB where the normalized form is ~90 MB.
Appends go through `BucketedStateTable.append_batch` (LSM delta
versions — O(batch) write) instead of `merge_batch` (which rewrites
every touched bucket: O(index) write amplification per trigger, the
measured cause of soak walls climbing 9 s -> 29 s). `compact()`
(-> `BucketedStateTable.snapshot`) folds delta chains back into one
version per bucket on a maintenance cadence — the same loop as
parquet small-file compaction.

PROBE reads are amortized two ways (round 10, after the round-9 soak
showed per-trigger probe walls still creeping O(index bytes)):

* a per-version-dir Bloom front over the band hashes
  (`streaming/bloom.py`): only version dirs whose Bloom might hold one
  of the batch's band hashes are read — probe I/O follows the
  collision-bearing dirs, not the accumulated index. Compaction ORs
  the source Blooms into the new snapshot's (exact, no re-scan).
* a candidate-driven signature fetch: band collisions are computed
  first and their match_ids name the sig buckets (and, via the sig
  Bloom front, version dirs) to read — the old path read the ENTIRE
  sig table every trigger; a mostly-novel batch now fetches ~nothing.

Decision rule — and why every seen document (novel or not) enters the
index: a document is a duplicate iff it matches ANY earlier-seen
document. Because the predicate only references the pair graph (not
earlier DECISIONS), the outcome is invariant to how the stream is cut
into micro-batches — a 1-batch run and a 10-batch run agree row for
row (asserted in tests). Indexing only accepted docs would instead
make doc C's fate depend on whether its match B was itself rejected —
a chain that changes with batch boundaries. "Earlier" = smaller id
within a batch, any indexed doc across batches; feed batches in id
order for a fully deterministic replay.

At 100 TB: the index stores bands x (id, sig) per document — growth is
linear in corpus size, reads are per-bucket. Size ``num_buckets`` like
any `BucketedStateTable` (state bytes / a few hundred MB). Hot band
buckets (boilerplate) are the same skew the batch path caps with
``max_bucket_size``; pass it through for production ingest.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from db_cdc_poc_spark.checkpointing import materialize
from db_cdc_poc_spark.operators.dedup import est_jaccard_col, minhash_bands
from db_cdc_poc_spark.streaming.bloom import BloomFront
from db_cdc_poc_spark.streaming.lease import WriterLease
from db_cdc_poc_spark.streaming.state import BucketedStateTable, is_delta


class StreamingDedupIndex:
    """Persisted LSH band index + per-batch novelty decisions."""

    def __init__(
        self,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        num_hashes: int = 64,
        bands: int = 16,
        shingle_n: int = 3,
        threshold: float = 0.5,
        num_buckets: int = 16,
        max_bucket_size: int | None = None,
        checkpoint_dir: str | None = None,
        compact_every: int | None = 64,
        bloom_bits: int = 1 << 21,
        bloom_cache_entries: int | None = None,
        lease_ttl: float = 900.0,
    ) -> None:
        self.id_col = id_col
        self.text_col = text_col
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        self.threshold = threshold
        self.max_bucket_size = max_bucket_size
        # reliable per-batch decision checkpoints (durable parquet)
        # instead of executor-local blocks — see checkpointing module;
        # a continuous ingest losing one executor must re-read its
        # decisions, not die. None keeps the single-node default.
        self.checkpoint_dir = checkpoint_dir
        # LSM maintenance cadence: every N processed batches, fold the
        # delta chains back into one snapshot per bucket (None = the
        # caller owns compaction via compact()). 64 bounds read fan-in
        # at ~64 delta dirs/bucket worst case — each delta is a tiny
        # parquet file, and the fold is one bucket-parallel job.
        self.compact_every = compact_every
        self._batches_since_compact = 0
        self.state = BucketedStateTable(
            path, keys=["band_id", "band_hash"], num_buckets=num_buckets
        )
        # signatures once per DOCUMENT (not per band row): the probe
        # joins band collisions first (narrow), then fetches sig for
        # the few candidates — see module docstring
        self.sigs = BucketedStateTable(
            f"{path.rstrip('/')}_sigs", keys=["id"], num_buckets=num_buckets
        )
        # per-version-dir Bloom fronts (streaming/bloom.py): the probe
        # reads only dirs that might hold a colliding key, so probe
        # I/O tracks the collision-bearing region, not the index size.
        # Size bloom_bits ~10x the expected keys per bucket; an
        # overfull bucket saturates to always-read (graceful).
        # Driver-cache bound: enough packed bitsets for every LIVE dir
        # at the worst point of the compaction cycle (keep_versions
        # full snapshots + up to compact_every deltas per bucket), so
        # the steady-state probe never thrashes; beyond that, LRU
        # eviction caps residency at entries * bloom_bits/8 bytes —
        # filters are reloadable, eviction is always safe.
        if bloom_cache_entries is None:
            bloom_cache_entries = self.state.num_buckets * (
                self.state.keep_versions + (compact_every or 64)
            )
        self._band_bloom = BloomFront(
            "_band_bloom.npz", bloom_bits, max_entries=bloom_cache_entries
        )
        self._sig_bloom = BloomFront(
            "_sig_bloom.npz", bloom_bits, max_entries=bloom_cache_entries
        )
        # single-writer contract, ENFORCED (streaming/lease.py): every
        # mutating entry point (process_batch, compact, migrate_legacy)
        # holds the lease for its duration — a double-fired trigger's
        # second writer is refused, and a writer displaced by a forced
        # takeover fences itself before its next append. Readers
        # (state_for / read_dirs) never touch the lease.
        self._lease = WriterLease(
            Path(path.rstrip("/")) / "_writer_lease.json", ttl=lease_ttl
        )

    # -- probe ------------------------------------------------------------

    def _bands(self, docs: DataFrame) -> DataFrame:
        return minhash_bands(
            docs,
            self.id_col,
            self.text_col,
            self.num_hashes,
            self.bands,
            self.shingle_n,
        )

    def _empty_pairs(self, probe: DataFrame) -> DataFrame:
        from pyspark.sql.types import StructField, StructType

        from db_cdc_poc_spark.sources.exchange import local_df

        id_type = probe.schema["id"].dataType
        # local_df -> JVM LocalRelation: a pickled empty RDD plans as an
        # unknown-size LogicalRDD and poisons join-strategy choice for
        # every consumer of the (frequently empty) first-batch pair set
        return local_df(
            probe.sparkSession,
            [],
            StructType(
                [
                    StructField("id", id_type),
                    StructField("match_id", id_type),
                ]
            ),
        )

    def _candidates(self, probe: DataFrame, index_bands: DataFrame) -> DataFrame:
        """Distinct (id, match_id, sig_a) band collisions — the cheap
        narrow join; signatures are fetched only for these afterwards."""
        return (
            probe.alias("p")
            .join(
                index_bands.select("band_id", "band_hash", "id").alias("x"),
                (F.col("p.band_id") == F.col("x.band_id"))
                & (F.col("p.band_hash") == F.col("x.band_hash"))
                & (F.col("p.id") != F.col("x.id")),
            )
            .select(
                F.col("p.id").alias("id"),
                F.col("x.id").alias("match_id"),
                F.col("p.sig").alias("sig_a"),
            )
            .dropDuplicates(["id", "match_id"])
        )

    def _screen(self, cand: DataFrame, sigs_rel: DataFrame) -> DataFrame:
        """Signature-agreement screen over candidate pairs."""
        sigs = sigs_rel.select(
            F.col("id").alias("match_id"), F.col("sig").alias("sig_b")
        )
        return (
            cand.join(sigs, "match_id")
            .withColumn(
                "est", est_jaccard_col("sig_a", "sig_b", self.num_hashes)
            )
            .filter(F.col("est") >= self.threshold)
            .select("id", "match_id")
        )

    def _matches(
        self,
        probe: DataFrame,
        index_bands: DataFrame | None,
        index_sigs: DataFrame | None,
    ) -> DataFrame:
        """(id, match_id) for probe docs matching an indexed doc.

        ``probe`` carries (id, sig, band_id, band_hash); the index
        side is the NARROW band relation plus the per-document sig
        relation — the band join finds collisions cheaply, the sig
        join reads full signatures only for the colliding candidates.
        """
        if index_bands is None or index_sigs is None:
            return self._empty_pairs(probe)
        return self._screen(self._candidates(probe, index_bands), index_sigs)

    # -- layout guard / migration ------------------------------------------

    def _check_layout(self, index_bands: DataFrame | None) -> None:
        """Refuse to probe an index written by the pre-round-9 layout.

        The original layout carried the signature ON every band row and
        had no ``_sigs`` table. Reopened with the normalized code path,
        such an index would silently match nothing (the sig join finds
        no rows) — every re-sent doc judged novel, no error. Detect the
        band-row tell here; the companion tell (band candidates whose
        ids have no sig rows at all) raises inside the candidate-driven
        sig fetch in :meth:`_index_matches`.
        """
        if index_bands is None:
            return
        if "sig" in index_bands.columns:
            raise RuntimeError(
                f"dedup index at {self.state.path} uses the legacy "
                "denormalized layout (signatures stored on band rows); "
                "probing it with the normalized reader would silently "
                "match nothing. Run StreamingDedupIndex.migrate_legacy("
                "spark) once to split signatures into the _sigs table."
            )

    def migrate_legacy(self, spark: SparkSession) -> int:
        """One-time migration from the legacy denormalized layout:
        split ``(id, sig)`` out of the band rows into the ``_sigs``
        table, then rewrite the band chains without the ``sig`` column.

        Crash-safe in the same orphan-direction as ``process_batch``:
        signatures are appended FIRST (idempotently — ids already in
        the sig table are anti-joined away, so a re-run after a crash
        between the two steps appends nothing twice), and only then are
        the band buckets rewritten narrow. Returns the number of
        migrated signature rows.
        """
        bands = self.state.state_for(spark)
        if bands is None or "sig" not in bands.columns:
            return 0
        with self._lease.hold():
            self._lease.check()
            legacy_sigs = bands.select("id", "sig").dropDuplicates(["id"])
            existing = self.sigs.state_for(spark)
            if existing is not None:
                legacy_sigs = legacy_sigs.join(
                    existing.select("id"), "id", "left_anti"
                )
            # the anti-join output is consumed twice (count + append):
            # pin it so the second pass can't see a half-appended sig table
            legacy_sigs = materialize(
                legacy_sigs, self.checkpoint_dir, label="dedup-migrate-sigs"
            )
            n = legacy_sigs.count()
            if n:
                self.sigs.append_batch(legacy_sigs)
            # rewrite every populated band bucket without the sig column;
            # merge_batch versions each chain (rename-commit), so a crash
            # mid-rewrite leaves some chains migrated and some legacy —
            # the layout check re-triggers and this method re-runs cleanly
            self.state.merge_batch(
                bands.select("band_id", "band_hash", "id"),
                lambda state, _batch: state.drop("sig"),
            )
            return int(n)

    def _index_matches(
        self, spark: SparkSession, banded: DataFrame, index: DataFrame | None
    ) -> DataFrame:
        """vs-index matches with a CANDIDATE-DRIVEN sig fetch: the band
        collisions are materialized first, their match_ids name the sig
        buckets — and the sig Bloom front names the version dirs — that
        must be read. A mostly-novel batch fetches almost no signature
        bytes; the old path read the whole sig table every trigger."""
        if index is None:
            return self._empty_pairs(banded)
        cand = materialize(
            self._candidates(banded, index), self.checkpoint_dir,
            label="dedup-cand",
        )
        # candidate ids -> sig buckets + key hashes; driver rows are
        # bounded by the candidate count (itself batch-bounded)
        keys: dict[int, list[int]] = {}
        for r in (
            cand.select(F.col("match_id").alias("id"))
            .distinct()
            .select(
                self.sigs.bucket_expr().alias("bk"),
                F.xxhash64("id").alias("kh"),
            )
            .collect()
        ):
            keys.setdefault(int(r["bk"]), []).append(int(r["kh"]))
        if not keys:
            return self._empty_pairs(banded)
        slive = [
            d
            for b, chain in self.sigs.chains(sorted(keys)).items()
            for d in chain
            if self._sig_bloom.might_contain_any(
                d, np.asarray(keys[b], dtype=np.int64)
            )
        ]
        index_sigs = self.sigs.read_dirs(spark, slive)
        if index_sigs is None:
            # candidates exist, so their sigs were committed first
            # (the crash contract) and Blooms have no false negatives:
            # an empty fetch means the rows genuinely aren't there
            raise RuntimeError(
                f"dedup index at {self.state.path} has band state but "
                f"no signature table at {self.sigs.path}; the sig join "
                "would silently drop every candidate. If this index "
                "predates the normalized layout, run "
                "StreamingDedupIndex.migrate_legacy(spark); otherwise "
                "the sig table was lost and the index must be rebuilt."
            )
        return self._screen(cand, index_sigs)

    # -- per-batch step ---------------------------------------------------

    def process_batch(self, docs: DataFrame) -> DataFrame:
        """Decide novelty for one micro-batch and extend the index.

        Returns (id, is_novel, n_matches): ``is_novel`` false iff the
        doc matches an already-indexed doc or a smaller-id doc in the
        same batch. The batch's band rows are appended to the index
        afterwards, duplicates included (see module docstring for why
        that keeps decisions batch-size-invariant).

        Crash-window layout (the crash soak's contract,
        ``scripts/crash_soak.py``): maintenance compaction runs FIRST,
        before this batch probes or appends anything — a compaction
        crash then provably loses none of this trigger's work, and the
        re-fired trigger starts clean (readers union each table's
        snapshot+deltas independently, so a half-compacted index stays
        correct; the next cadence completes the fold). The residual
        unrecoverable window is append-to-sink: a crash AFTER the band
        append but BEFORE the caller commits the decisions makes the
        re-fired probe match the batch against its own indexed copy,
        so within-batch near-dup SURVIVORS are dropped on replay —
        bounded, duplicate-leak-free loss (every lost doc has a
        near-dup partner), in the safe direction for dedup. Callers
        needing exact-once survivor ingest must set ``checkpoint_dir``
        (decisions are then durable parquet written BEFORE the append)
        and resume from the decisions file instead of re-probing.
        """
        spark = docs.sparkSession
        # writer lease held for the batch's whole mutate window
        with self._lease.hold():
            return self._process_batch_held(spark, docs)

    def _process_batch_held(self, spark: SparkSession, docs: DataFrame) -> DataFrame:
        if self.compact_every is not None and (
            self._batches_since_compact >= self.compact_every
            or self._max_delta_chain() >= self.compact_every
        ):
            self.compact(spark)
        banded = self._bands(docs)
        if self.max_bucket_size is not None:
            small = (
                banded.groupBy("band_id", "band_hash")
                .agg(F.count("*").alias("__bn"))
                .filter(F.col("__bn") <= self.max_bucket_size)
                .select("band_id", "band_hash")
            )
            banded = banded.join(small, ["band_id", "band_hash"])
        # Materialize band rows once: probed twice (vs index + within
        # batch) and appended afterwards.
        banded = banded.persist()
        try:
            # ONE batch-bounded collect of the distinct (bucket,
            # band_hash) pairs: it drives BOTH the Bloom-pruned probe
            # and the appended delta's Bloom build. Driver traffic is
            # O(bands x |batch|) longs — bounded by the batch, never
            # by the index or corpus.
            by_bucket: dict[int, list[int]] = {}
            for r in (
                banded.select(self.state.bucket_expr().alias("bk"), "band_hash")
                .distinct()
                .collect()
            ):
                by_bucket.setdefault(int(r["bk"]), []).append(int(r["band_hash"]))
            hash_arrs = {
                b: np.asarray(v, dtype=np.int64) for b, v in by_bucket.items()
            }
            # probe reads: touched buckets, then ONLY the version dirs
            # whose Bloom might hold one of the batch's band hashes —
            # probe I/O follows the collision-bearing dirs, not the
            # accumulated index (the round-9 soak's residual creep)
            live = [
                d
                for b, chain in self.state.chains(sorted(by_bucket)).items()
                for d in chain
                if self._band_bloom.might_contain_any(d, hash_arrs[b])
            ]
            index = self.state.read_dirs(spark, live)
            self._check_layout(index)
            batch_sigs = banded.select("id", "sig").dropDuplicates(["id"])
            vs_index = self._index_matches(spark, banded, index)
            within = self._matches(banded, banded, batch_sigs).filter(
                F.col("match_id") < F.col("id")
            )
            matches = vs_index.unionByName(within)
            decisions = (
                docs.select(F.col(self.id_col).alias("id"))
                .join(
                    matches.groupBy("id").agg(F.count("*").alias("n_matches")),
                    "id",
                    "left",
                )
                .select(
                    "id",
                    F.col("n_matches").isNull().alias("is_novel"),
                    F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
                )
            )
            # Decide BEFORE the index mutates: an eager materialization
            # pins the decision rows (executor blocks by default,
            # durable parquet when checkpoint_dir is set) and cuts
            # lineage, so the append below can't leak into the returned
            # plan — and decision data stays distributed instead of
            # round-tripping through the driver (driver traffic per
            # trigger is the batch's distinct band hashes and candidate
            # key hashes — batch-bounded, never index-bounded).
            decisions = materialize(
                decisions, self.checkpoint_dir, label="dedup-decisions"
            )
            # LSM append: O(batch) writes — merge_batch here would
            # re-read and rewrite the whole accumulated index every
            # trigger (the measured soak defect; module docstring).
            # SIGS FIRST: the two tables commit independently, so a
            # crash between the appends must leave the harmless orphan
            # (a sig row no band row points at — never a candidate)
            # rather than the silent one (a band row whose id has no
            # sig: the inner sig join would drop that candidate
            # forever, a permanent missed duplicate). Each created
            # delta dir gets its Bloom summary (batch-bounded driver
            # work; a crash before the Bloom write just leaves that
            # dir unprunable, never wrong).
            # fencing check immediately before the first mutation: a
            # writer displaced mid-batch aborts here, never appends
            self._lease.check()
            sig_keys: dict[int, list[int]] = {}
            for r in (
                batch_sigs.select(
                    self.sigs.bucket_expr().alias("bk"),
                    F.xxhash64("id").alias("kh"),
                )
                .collect()
            ):
                sig_keys.setdefault(int(r["bk"]), []).append(int(r["kh"]))
            for b, d in self.sigs.append_batch(batch_sigs).items():
                self._sig_bloom.write(
                    d, np.asarray(sig_keys.get(b, []), dtype=np.int64)
                )
            for b, d in self.state.append_batch(
                banded.select("band_id", "band_hash", "id")
            ).items():
                self._band_bloom.write(
                    d, hash_arrs.get(b, np.empty(0, dtype=np.int64))
                )
            # cadence bookkeeping only — the compaction itself runs at
            # the START of the next batch (see docstring: keeps the
            # maintenance fold out of the append-to-sink crash window)
            self._batches_since_compact += 1
        finally:
            banded.unpersist()
        return decisions

    def _max_delta_chain(self) -> int:
        """Longest un-compacted delta chain across both tables' buckets
        (directory listings only — no data read). The compaction
        cadence keys off THIS, not just the in-memory batch counter:
        the counter dies with the process, so a crash-looping ingester
        restarting every few triggers would defer compaction forever,
        and crashed-and-re-fired triggers append deltas the counter
        never saw. Disk-derived cadence is restart-proof and
        self-heals crash-inflated chains on the next batch."""
        return max(
            (
                sum(map(is_delta, chain))
                for table in (self.state, self.sigs)
                for chain in table.delta_chains().values()
            ),
            default=0,
        )

    def compact(self, spark: SparkSession) -> dict:
        """Fold both tables' delta chains into one snapshot version per
        bucket (``BucketedStateTable.snapshot``) — run on a maintenance
        cadence; decisions are unaffected (content-identical, asserted
        in tests), read fan-in returns to one dir per bucket. The new
        snapshot's Bloom is the OR of its source versions' Blooms
        (exact: a snapshot holds precisely the union of its sources'
        rows) — no key re-scan, no corpus-sized driver traffic."""
        with self._lease.hold():
            self._lease.check()
            self._batches_since_compact = 0
            return {
                "bands_buckets": self._compact_table(
                    spark, self.state, self._band_bloom
                ),
                "sig_buckets": self._compact_table(
                    spark, self.sigs, self._sig_bloom
                ),
            }

    def acquire_writer_lease(self, force: bool = False) -> int:
        """Hold the writer lease across batches (long-lived ingest
        loop). Returns the fencing token. See ``streaming/lease.py``."""
        return self._lease.acquire(force=force)

    def release_writer_lease(self) -> None:
        self._lease.release()

    @staticmethod
    def _compact_table(spark: SparkSession, table: BucketedStateTable, bloom: BloomFront) -> int:
        # record each to-be-folded chain and pull its Blooms into the
        # cache BEFORE snapshot prunes the source dirs off disk
        todo = table.delta_chains()
        unionable = {
            b: all(bloom.loadable(d) for d in chain)
            for b, chain in todo.items()
        }
        n = table.snapshot(spark)
        for b, chain in todo.items():
            if not unionable[b]:
                continue  # a source lacked a Bloom: snapshot stays unprunable
            new = table.chains([b]).get(b, [])
            if len(new) == 1:
                bloom.union_write(new[0], chain)
        return n

    def foreach_batch(self, sink: list | None = None, max_rows: int = 100_000):
        """Adapter for ``writeStream.foreachBatch``: processes each
        micro-batch and (optionally) appends decision rows to ``sink``.

        The list sink is a TEST/DEBUG surface: pulling decisions to the
        driver caps at ``max_rows`` per batch via the size-guarded
        exchange (raises ``DriverExchangeTooLarge`` beyond it) — a
        production job writes decisions to a table instead of a list.
        """
        from db_cdc_poc_spark.sources.exchange import collect_rows

        def _fn(batch_df: DataFrame, epoch_id: int) -> None:
            result = self.process_batch(batch_df)
            if sink is not None:
                sink.extend(collect_rows(result, max_rows=max_rows))

        return _fn
