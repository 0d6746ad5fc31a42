"""The engine's one synchronous streaming drain, and its scratch.

Every ``availableNow`` query in the package starts and is awaited in
:func:`drain`: it starts a set of :class:`Leg` s, one query each, then
awaits them all; if one raises, it stops the others before
re-raising. ``run_ingestion`` drains its two durable legs through it.
Two entry points read a parquet directory as a file stream
(:func:`_read_parquet_stream`) and drain it as one leg, differing
only in the sink:

* :func:`drain_to_memory` — memory sink; returns the sink table as a
  batch DataFrame (dedup, windows, sessions, joins, enrichment);
* :func:`drain_foreach_batch` — ``foreachBatch`` sink; the caller's
  function owns the result (fanout, incremental gold, CDC apply).

Checkpoint. A leg's checkpoint is throwaway scratch from
:func:`ephemeral_checkpoint_dir`, released in ``finally`` when the
drain returns — the sink already holds the rows and nothing resumes.
A leg may instead be given a durable ``checkpoint_path`` (the
resumable CDC apply, ``run_ingestion``): that one is never released
and keeps every session default.

Checksum sidecars. Spark 4.1 writes a checksum sidecar for every
streaming-checkpoint file
(``spark.sql.streaming.checkpoint.fileChecksum.enabled``, default true)
and every state-store delta-file creation BLOCKS on the sidecar's
future (``ChecksumCheckpointFileManager.createWithChecksum`` →
``awaitResult`` — verified by thread dump: all 32 task threads parked
there during a drain). For a checkpoint that outlives the query that
integrity check is worth its cost; for a throwaway drain checkpoint it
buys nothing and measured ~1.8x on the whole drain (5.2s → 2.9s for
the sf0.1 events dedup drain at 32 state partitions; the per-task wait
is ~1.4s of pure parking). :func:`_drain_confs` scopes the opt-out
to each throwaway leg's ``start()``: a query snapshots the session
confs when it starts, so durable legs, started outside the scope,
stay on the safe default. Sessions older than Spark 4.1 simply carry
an unused conf key.

Width rule, taken from the sink type. A memory-sink drain runs its
state/shuffle partitions at ``clamp(ceil(bytes / 256 KB), 1, session
width)`` of the parquet directory it reads (:func:`_drain_width`):
per-partition state-store costs dominate tiny drains. A
``foreachBatch`` drain keeps the session width: it holds no streaming
state, and its batch function's joins and writes are ordinary batch
work. A durable checkpoint gets neither the confs nor the release.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable
from contextlib import contextmanager, nullcontext
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

#: Minimum free bytes a RAM-backed base must have BEFORE we put scratch
#: on it (``$SPARK_GRAFT_EPHEMERAL_MIN_FREE`` overrides). tmpfs pages
#: compete with host RAM: filling /dev/shm mid-drain is an ENOSPC crash
#: at best and memory pressure on every executor at worst (VERDICT r13
#: "what's wrong" #2). 8 GiB covers the largest measured drain state
#: (sf10 chain) with slack; anything bigger belongs on disk anyway.
_MIN_FREE_ENV = "SPARK_GRAFT_EPHEMERAL_MIN_FREE"
_DEFAULT_MIN_FREE = 8 << 30

#: Every directory this module handed out, removed at process exit —
#: drain checkpoints and staged inputs otherwise accumulate in RAM for
#: the life of a long bench/soak run (ADVICE r13 #5). Call sites that
#: finish with a dir earlier use :func:`discard_ephemeral_dir`.
_CREATED_DIRS: list[str] = []


def _cleanup_created_dirs() -> None:  # pragma: no cover - exit hook
    while _CREATED_DIRS:
        shutil.rmtree(_CREATED_DIRS.pop(), ignore_errors=True)


atexit.register(_cleanup_created_dirs)


def _min_free_bytes() -> int:
    try:
        return int(os.environ.get(_MIN_FREE_ENV, _DEFAULT_MIN_FREE))
    except ValueError:
        return _DEFAULT_MIN_FREE


def _has_room(base: str) -> bool:
    try:
        return shutil.disk_usage(base).free >= _min_free_bytes()
    except OSError:
        return False


def ephemeral_checkpoint_dir(prefix: str) -> str:
    """A scratch directory for state nothing will read after the call
    returns (drain checkpoints, default-constructed state tables).

    Durability is irrelevant for these BY DESIGN — the same contract
    that lets the drain use a memory sink — so put them on RAM-backed
    tmpfs when the host has one: the state-store delta/snapshot writes
    and the per-batch commit-log fsyncs then never touch the (shared,
    stall-prone) disk. Order: ``$SPARK_GRAFT_EPHEMERAL_DIR`` if set,
    ``/dev/shm`` when writable, else the normal tempdir. A RAM-backed
    base is only chosen while it has ``_min_free_bytes()`` of headroom
    — a near-full tmpfs falls through to disk instead of ENOSPC-ing a
    drain or pressuring host memory. Callers that pass their OWN
    checkpoint/state path keep full durability — this helper is only
    ever used for the ``path or ...`` default. Dirs are removed at
    process exit; short-lived ones should be released earlier via
    :func:`discard_ephemeral_dir`."""
    for base in (os.environ.get("SPARK_GRAFT_EPHEMERAL_DIR"), "/dev/shm"):
        if (
            base
            and os.path.isdir(base)
            and os.access(base, os.W_OK)
            and _has_room(base)
        ):
            d = tempfile.mkdtemp(prefix=prefix, dir=base)
            _CREATED_DIRS.append(d)
            return d
    d = tempfile.mkdtemp(prefix=prefix)
    _CREATED_DIRS.append(d)
    return d


def discard_ephemeral_dir(path: str | None) -> None:
    """Remove a dir handed out by :func:`ephemeral_checkpoint_dir` the
    moment its consumer is done (a finished drain's checkpoint), so
    RAM-backed scratch is bounded by the LIVE drains, not the run
    length. No-op for paths this module didn't create."""
    if path and path in _CREATED_DIRS:
        _CREATED_DIRS.remove(path)
        shutil.rmtree(path, ignore_errors=True)


#: Confs a throwaway drain flips, with their drain-time values.
#: Currently just the checksum sidecar opt-out.
#:
#: Negative result, recorded so the next round doesn't re-try it:
#: ``spark.sql.streaming.stateStore.unloadOnCommit=true`` (the
#: documented availableNow/one-shot mode) was A/B'd here to stop dead
#: drains' providers accumulating in the executor provider cache. It
#: LOST the paired A/B (median 3.01 s vs 2.54 s per drain over 15
#: interleaved pairs): unloading after every commit forces the next
#: batch — including the watermark-commit batch every drain runs — to
#: reload all state partitions from snapshot ("state for version 1
#: doesn't exist in loadedMaps" per partition), trading a bounded
#: in-memory cache for per-batch disk reads. The provider pile-up it
#: would have fixed is bounded per drain and only costs when the
#: periodic maintenance sweep walks it, which measures smaller than
#: the reload tax.
_EPHEMERAL_CONFS = {
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
}


#: Input bytes per state/shuffle partition for a memory-sink drain.
#: Stateful operators pay per-PARTITION fixed costs every micro-batch
#: (state-store provider init, delta+commit file per partition), so a
#: tiny drain at the session's full shuffle width spends more on state
#: bookkeeping than on rows: q30 at sf0.1 measured 1.31 s at 32
#: partitions vs 0.94 s at 8. At sf1+ the scaled width reaches the
#: session value and nothing changes.
_DRAIN_TASK_BYTES = 256 << 10


def _drain_width(spark: SparkSession, source_path: str) -> int:
    """Size-scaled shuffle/state partition count for a memory-sink
    drain of ``source_path``; the session value when the source cannot
    be sized."""
    cur = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    try:
        total = 0
        if os.path.isfile(source_path):
            total = os.path.getsize(source_path)
        else:
            for root, _dirs, files in os.walk(source_path):
                total += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
    except OSError:
        return cur
    if total <= 0:
        return cur
    return max(1, min(cur, -(-total // _DRAIN_TASK_BYTES)))


@contextmanager
def _drain_confs(spark: SparkSession, shuffle_partitions: int | None):
    """Disable throwaway-checkpoint overhead around the start of a
    throwaway leg; restores the previous settings on exit.
    ``shuffle_partitions`` additionally scopes a size-scaled state/
    shuffle width to the leg (see :func:`_drain_width`)."""
    confs = dict(_EPHEMERAL_CONFS)
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    prev: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            prev[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf access locked down
            pass
    try:
        yield
    finally:
        for k, old in prev.items():
            try:
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)
            except Exception:  # pragma: no cover - conf access locked down
                pass


def _read_parquet_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None
) -> DataFrame:
    """``path`` as a file stream, schema taken from a batch read of the
    same directory (file streams cannot infer one)."""
    static = spark.read.parquet(path)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


class Leg(NamedTuple):
    """One query of a drain. ``name`` prefixes its throwaway
    checkpoint; a given ``checkpoint_path`` is durable instead."""

    name: str
    stream: DataFrame
    sink: Callable[[DataStreamWriter], DataStreamWriter]
    checkpoint_path: str | None = None


def drain(*legs: Leg, shuffle_partitions: int | None = None) -> None:
    """Start every leg, then await them all. A throwaway leg starts
    under the drain confs (``shuffle_partitions`` scopes its width)
    and its checkpoint is released in ``finally``; a durable leg
    starts on the session confs and keeps its checkpoint. If any leg
    raises, the others are stopped before the error propagates."""
    scratch = [
        None if leg.checkpoint_path else ephemeral_checkpoint_dir(f"ckpt_{leg.name}_")
        for leg in legs
    ]
    queries = []
    try:
        for leg, tmp in zip(legs, scratch):
            spark = leg.stream.sparkSession
            with _drain_confs(spark, shuffle_partitions) if tmp else nullcontext():
                queries.append(
                    leg.sink(leg.stream.writeStream)
                    .trigger(availableNow=True)
                    .option("checkpointLocation", tmp or leg.checkpoint_path)
                    .start()
                )
        for q in queries:
            q.awaitTermination()
    except BaseException:
        for q in queries:
            q.stop()
        raise
    finally:
        for tmp in scratch:
            discard_ephemeral_dir(tmp)


def drain_to_memory(
    spark: SparkSession,
    source_path: str,
    build: Callable[[DataFrame], DataFrame],
    name: str,
    output_mode: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain ``build(<file stream of source_path>)`` into a uniquely
    named memory sink at the size-scaled width; returns the sink table
    as a batch DataFrame."""
    table = f"{name}_{uuid.uuid4().hex[:8]}"
    drain(
        Leg(
            name,
            build(_read_parquet_stream(spark, source_path, max_files_per_trigger)),
            lambda w: w.format("memory").queryName(table).outputMode(output_mode),
        ),
        shuffle_partitions=_drain_width(spark, source_path),
    )
    return spark.table(table)


def drain_foreach_batch(
    spark: SparkSession,
    source_path: str,
    fn: Callable[[DataFrame, int], None],
    name: str,
    max_files_per_trigger: int | None = None,
    checkpoint_path: str | None = None,
) -> None:
    """Drain the file stream of ``source_path`` through
    ``foreachBatch(fn)`` at the session width. ``checkpoint_path``
    makes the drain resumable (see :class:`Leg`)."""
    stream = _read_parquet_stream(spark, source_path, max_files_per_trigger)
    drain(Leg(name, stream, lambda w: w.foreachBatch(fn), checkpoint_path))
