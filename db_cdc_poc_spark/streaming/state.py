"""Hash-bucketed versioned parquet state — the shared mechanics under
the engine's foreachBatch-maintained tables (CDC upsert target,
incremental gold aggregate).

Layout::

    <path>/bucket_0007/v_00000003/*.parquet
    <path>/_commits/commit_00000002.json   (table-wide snapshot ids)

Keys route to buckets via ``pmod(xxhash64(keys...), num_buckets)`` —
deterministic across sessions. Each bucket is an independent version
chain: its last FULL version (``v_N``) plus every DELTA (``v_N.d``)
after it. A micro-batch rewrites ONLY the chains its keys hash into,
so merge I/O is O(|touched state|) rather than O(|total state|).
Versioned directories exist because Spark cannot overwrite a parquet
path it is concurrently reading; the per-bucket directory rename is
the commit (atomic on local FS/HDFS; swap for the store's commit
protocol — or for Delta/Iceberg MERGE — on object stores). Only this
module knows the layout: callers see it through
:meth:`BucketedStateTable.chains`, :meth:`~BucketedStateTable.delta_chains`
and :func:`is_delta`.

The merge semantics are pluggable: ``merge_batch`` hands the caller the
touched-bucket state (or ``None``) plus the batch and writes whatever
the callback returns. ``streaming/cdc.py`` plugs in latest-row-per-key;
``streaming/gold.py`` plugs in an associative aggregate accumulate.
Schema evolution has one rule, :func:`unify_schemas`.

One commit protocol: every mutator runs inside the table lease's
writer window (:meth:`WriterLease.hold` on
``<path>/_table_writer_lease.json``) and commits through
:meth:`BucketedStateTable._commit` — stage, fence-check, rename,
prune, record — so a foreachBatch sink makes exactly one commit per
epoch, in one function. The lease file name differs from the
index-level ``_writer_lease.json`` on purpose: the dedup index's state
table sits at the index root, under a different owner in the same
process.
"""

from __future__ import annotations

import json
import shutil
import tempfile
from collections.abc import Callable, Sequence
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from db_cdc_poc_spark.streaming.lease import WriterLease

BUCKET_COL = "__state_bucket"

#: Safe widening chains (left widens into right, values preserved).
_WIDENING_CHAINS: tuple[tuple[T.DataType, ...], ...] = (
    (T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType()),
    (T.FloatType(), T.DoubleType()),
)


def wider_type(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """The wider of two types when one safely widens into the other
    (int family, float->double); ``None`` for any other mismatch."""
    if a == b:
        return a
    for chain in _WIDENING_CHAINS:
        if a in chain and b in chain:
            return chain[max(chain.index(a), chain.index(b))]
    return None


def unify_schemas(schemas: Sequence[T.StructType]) -> T.StructType:
    """Union of column sets with widening on type conflicts — what
    ``mergeSchema`` would do if it understood numeric widening (it
    hard-fails on int-vs-long). Raises on non-widenable conflicts:
    silent coercion corrupts CDC state."""
    types: dict[str, T.DataType] = {}
    order: list[str] = []
    for sch in schemas:
        for f in sch.fields:
            if f.name not in types:
                types[f.name] = f.dataType
                order.append(f.name)
            else:
                w = wider_type(types[f.name], f.dataType)
                if w is None:
                    raise TypeError(
                        f"state column {f.name!r} has incompatible types "
                        f"{types[f.name].simpleString()} vs "
                        f"{f.dataType.simpleString()}; only in-family numeric "
                        "widening (int->long, float->double) is supported"
                    )
                types[f.name] = w
    return T.StructType([T.StructField(n, types[n], True) for n in order])

MergeFn = Callable[[DataFrame | None, DataFrame], DataFrame]


def is_delta(version_dir: Path) -> bool:
    """Whether a chain's version dir is a delta (``v_N.d``, written by
    :meth:`BucketedStateTable.append_batch`) rather than a full
    snapshot (``v_N``)."""
    return version_dir.name.endswith(".d")


class StateVersionVacuumedError(RuntimeError):
    """A time-travel read hit a version already pruned by
    ``keep_versions`` — the Delta-vacuum tradeoff, surfaced loudly."""


class BucketedStateTable:
    """A keyed parquet state table with per-bucket version chains.

    Size ``num_buckets`` so one bucket rewrite stays cheap AND a small
    batch touches few buckets: roughly ``total state size / a few
    hundred MB``. The default 16 suits tests/small state; a 100 TB
    keyspace wants thousands of buckets (a batch touching k keys
    rewrites at most k buckets regardless of the count, so more buckets
    only add directory overhead, not merge work).
    """

    def __init__(
        self,
        path: str,
        keys: Sequence[str],
        num_buckets: int = 16,
        keep_versions: int = 2,
        lease_ttl: float = 900.0,
    ) -> None:
        self.path = Path(path)
        self.keys = list(keys)
        self.num_buckets = num_buckets
        self.keep_versions = keep_versions
        self.path.mkdir(parents=True, exist_ok=True)
        # single-writer enforcement (module docstring): mutators run
        # under this lease; hold it across a multi-batch window with
        # ``table.lease.acquire()`` ... ``table.lease.release()``.
        self.lease = WriterLease(
            self.path / "_table_writer_lease.json", ttl=lease_ttl
        )

    # -- bucket routing ---------------------------------------------------

    def bucket_expr(self) -> Column:
        """Deterministic key->bucket routing (stable across sessions)."""
        return F.pmod(F.xxhash64(*self.keys), F.lit(self.num_buckets)).cast("int")

    # -- layout -----------------------------------------------------------

    def _bucket_dir(self, b: int) -> Path:
        return self.path / f"bucket_{b:04d}"

    def _versions(self, b: int) -> list[Path]:
        return sorted(p for p in self._bucket_dir(b).glob("v_*") if p.is_dir())

    @staticmethod
    def _vnum(p: Path) -> int:
        """Version number of ``v_00000007`` or ``v_00000007.d``."""
        return int(p.name[2:].split(".")[0])

    def _chain_dirs(self, b: int, upto_name: str | None = None) -> list[Path]:
        """The READABLE set of one bucket: its last FULL snapshot (a
        ``v_N`` dir) plus every DELTA (``v_N.d``, written by
        :meth:`append_batch`) after it — LSM semantics. A chain with
        no snapshot yet is all deltas. ``upto_name`` (a ``v_...`` dir
        name) restricts the chain for time travel."""
        vs = self._versions(b)
        if upto_name is not None:
            vs = [p for p in vs if p.name <= upto_name]
        start = 0
        for i in range(len(vs) - 1, -1, -1):
            if not is_delta(vs[i]):
                start = i
                break
        return vs[start:]

    def chains(self, buckets: Sequence[int] | None = None) -> dict[int, list[Path]]:
        """The layout's public view: bucket -> its readable chain
        (latest full snapshot + later deltas), for every bucket that
        has one (all buckets if ``buckets`` is None). For callers that
        prune dirs with their own side metadata (e.g. the dedup
        index's per-version Bloom front) before handing a subset to
        :meth:`read_dirs`. Version dirs are immutable once committed,
        so per-dir metadata and caches keyed on them stay valid."""
        out: dict[int, list[Path]] = {}
        for b in range(self.num_buckets) if buckets is None else buckets:
            if chain := self._chain_dirs(b):
                out[b] = chain
        return out

    def delta_chains(self) -> dict[int, list[Path]]:
        """The chains that hold deltas — exactly the buckets
        :meth:`snapshot` compacts."""
        return {
            b: chain
            for b, chain in self.chains().items()
            if any(is_delta(p) for p in chain)
        }

    def read_dirs(self, spark: SparkSession, dirs: Sequence[Path]) -> DataFrame | None:
        """Read an explicit subset of version dirs (from
        :meth:`chains`) under one reconciled schema; ``None`` for an
        empty subset. Safe only for APPEND-ONLY state, where skipping
        a version dir skips whole rows, never an update."""
        if not dirs:
            return None
        return self._read_chains(spark, list(dirs))

    # -- commit log / time travel -----------------------------------------

    def _commits_dir(self) -> Path:
        d = self.path / "_commits"
        d.mkdir(exist_ok=True)
        return d

    def commits(self) -> list[int]:
        """Committed merge ids, ascending (empty for a fresh table)."""
        return sorted(
            int(p.stem.split("_")[1]) for p in self._commits_dir().glob("commit_*.json")
        )

    def _record_commit(self) -> int:
        """Append a commit record: the latest version of EVERY live
        chain after this merge — a consistent table-wide snapshot id.
        One tiny JSON per commit (directory listing, no data read);
        the write-then-rename makes the record's appearance atomic."""
        versions = {
            str(b): vs[-1].name[2:]  # "00000007" or "00000007.d"
            for b in range(self.num_buckets)
            if (vs := self._versions(b))
        }
        n = (self.commits() or [-1])[-1] + 1
        tmp = self._commits_dir() / f".commit_{n:08d}.json.tmp"
        tmp.write_text(json.dumps({"commit": n, "versions": versions}))
        tmp.rename(self._commits_dir() / f"commit_{n:08d}.json")
        return n

    def state_at(self, spark: SparkSession, commit: int) -> DataFrame | None:
        """Time travel: the full table exactly as of ``commit``.

        Reads each bucket's version recorded in that commit's snapshot.
        Retention is bounded by ``keep_versions`` (exactly Delta's
        vacuum tradeoff): raise it on tables whose history must stay
        queryable, or raise ``StateVersionVacuumedError`` when a
        recorded version is gone.
        """
        rec = self._commits_dir() / f"commit_{commit:08d}.json"
        if not rec.is_file():
            raise KeyError(f"no commit {commit}; have {self.commits()}")
        versions = json.loads(rec.read_text())["versions"]
        paths = []
        for b_str, v in versions.items():
            # older commit files recorded ints; newer record the dir
            # name suffix (which may mark a delta, "00000007.d")
            name = v if isinstance(v, str) else f"{int(v):08d}"
            tip = self._bucket_dir(int(b_str)) / f"v_{name}"
            chain = self._chain_dirs(int(b_str), upto_name=f"v_{name}")
            if not tip.is_dir() or not chain or chain[-1] != tip:
                raise StateVersionVacuumedError(
                    f"bucket {b_str} v{name} was vacuumed (keep_versions="
                    f"{self.keep_versions}); raise keep_versions to retain history"
                )
            paths.extend(chain)
        if not paths:
            return None
        return self._read_chains(spark, paths)

    def state_for(
        self, spark: SparkSession, buckets: Sequence[int] | None = None
    ) -> DataFrame | None:
        """Latest state of the given buckets (all buckets if None);
        ``None`` when no chain exists yet."""
        paths = [d for chain in self.chains(buckets).values() for d in chain]
        if not paths:
            return None
        return self._read_chains(spark, paths)

    def _read_chains(self, spark: SparkSession, paths: Sequence[Path]) -> DataFrame:
        """Read bucket chains under one reconciled schema.

        Chains evolve independently (a batch only rewrites the buckets
        it touches), so a multi-bucket read must union the per-chain
        schemas: columns added later are NULL in older chains, and a
        chain still holding the narrow type of a since-widened column
        (int vs long, float vs double) is up-cast on read — the
        parquet readers support widening promotions, which plain
        ``mergeSchema`` rejects.

        Fast path first: ONE ``mergeSchema`` read handles the common
        cases (identical chains, additive drift) with a single
        parallel footer pass — per-path sequential ``.schema`` probes
        here measured ~1 s/micro-batch of pure planning overhead at 32
        buckets. Only when mergeSchema raises its type-conflict error
        (a since-widened column) does the per-chain unify path run.
        """
        strs = [str(p) for p in paths]
        try:
            return spark.read.option("mergeSchema", "true").parquet(*strs)
        except Exception:  # type conflict: int-vs-long etc.
            schemas = [spark.read.parquet(s).schema for s in strs]
            return spark.read.schema(unify_schemas(schemas)).parquet(*strs)

    # -- commit protocol ---------------------------------------------------

    def _commit(self, rows: DataFrame, delta: bool) -> dict[int, Path]:
        """The one stage-fence-commit, run inside the writer window.

        Stages ``rows`` partitioned by bucket in ONE write job,
        re-checks the fencing token (a displaced writer aborts BEFORE
        the first rename), renames each staged bucket to its chain's
        next version — a delta ``v_N.d`` or a full ``v_N`` (then old
        full versions are pruned) — and records the commit. A bucket
        with no rows keeps its chain unchanged. Returns bucket -> the
        created version dir (immutable once committed)."""
        staging = Path(tempfile.mkdtemp(prefix="state_staging_", dir=self.path))
        try:
            rows.withColumn(BUCKET_COL, self.bucket_expr()).write.partitionBy(
                BUCKET_COL
            ).mode("overwrite").parquet(str(staging))
            self.lease.check()
            created: dict[int, Path] = {}
            for src in sorted(staging.glob(f"{BUCKET_COL}=*")):
                b = int(src.name.split("=")[1])
                versions = self._versions(b)
                next_n = self._vnum(versions[-1]) + 1 if versions else 0
                self._bucket_dir(b).mkdir(exist_ok=True)
                dst = self._bucket_dir(b) / f"v_{next_n:08d}{'.d' if delta else ''}"
                src.rename(dst)
                if not delta:
                    self._prune(b)
                created[b] = dst
            self._record_commit()
            return created
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _prune(self, b: int) -> None:
        """Retention: keep the last ``keep_versions`` FULL snapshots
        plus every delta newer than the oldest kept snapshot (those
        deltas are still reachable by time travel to commits between
        the kept snapshots); everything older is vacuumed."""
        fulls = [p for p in self._versions(b) if not is_delta(p)]
        if len(fulls) <= self.keep_versions:
            return
        cutoff = fulls[-self.keep_versions].name
        for old in self._versions(b):
            if old.name < cutoff:
                shutil.rmtree(old, ignore_errors=True)

    # -- mutators -----------------------------------------------------------

    def merge_batch(self, batch: DataFrame, merge_fn: MergeFn) -> None:
        """new state (touched buckets only) = merge_fn(state, batch).

        Reads only the chains the batch's keys hash into and commits
        the callback's result as each touched chain's next full
        version. The callback sees plain key rows — no bucket column
        on either side.
        """
        spark = batch.sparkSession
        batch = batch.withColumn(BUCKET_COL, self.bucket_expr())
        # at most num_buckets values — tiny driver-side set
        touched = sorted(r[0] for r in batch.select(BUCKET_COL).distinct().collect())
        if not touched:
            return
        with self.lease.hold():
            state = self.state_for(spark, touched)
            self._commit(merge_fn(state, batch.drop(BUCKET_COL)), delta=False)

    def append_batch(self, batch: DataFrame) -> dict[int, Path]:
        """LSM-style APPEND: write only the batch's rows, as one DELTA
        version (``v_N.d``) per touched bucket — I/O is O(batch), vs
        :meth:`merge_batch`'s O(touched state) read-union-rewrite.
        Returns bucket -> created version dir (immutable once
        committed) so callers can attach side metadata (e.g. Bloom
        summaries).

        For append-only state (the streaming dedup index: every seen
        row stays forever) merge_batch's rewrite is pure write
        amplification — the sf1 soak measured per-trigger walls
        climbing 9 s -> 29 s as the whole accumulated index was
        rewritten every trigger. Readers (:meth:`state_for` /
        :meth:`state_at`) union each bucket's last full snapshot with
        the deltas after it, so append is semantically
        ``merge_batch(lambda s, b: s UNION ALL b)`` with none of the
        rewrite; :meth:`snapshot` compacts a long delta chain back to
        one full version (call it on a maintenance cadence, exactly
        like parquet small-file compaction — same tradeoff, same
        loop)."""
        with self.lease.hold():
            return self._commit(batch, delta=True)

    def snapshot(self, spark: SparkSession) -> int:
        """Compact every chain that holds deltas (:meth:`delta_chains`)
        into one full snapshot version (the LSM compaction). Returns
        the number of buckets compacted. Content is unchanged (asserted
        in tests); read fan-in per bucket drops back to one directory."""
        todo = sorted(self.delta_chains())
        if not todo:
            return 0
        with self.lease.hold():
            self._commit(self.state_for(spark, todo), delta=False)
        return len(todo)
