"""Writer lease + fencing token for single-writer state tables.

The streaming dedup index (and any ``BucketedStateTable`` owner) has a
single-writer/concurrent-reader contract: reader isolation is proven by
``tests/test_dedup_index_isolation.py``, but nothing STOPPED a second
appender — a production orchestrator double-firing a trigger would run
two writers whose interleaved appends produce decisions neither writer
would have made alone (VERDICT r11 ask #4). This module makes the
contract enforceable:

* A writer ACQUIRES a lease file at the table root before mutating.
  Acquisition fails with :class:`ConcurrentWriterError` while another
  LIVE holder exists — detect-and-refuse, the safe default.
* Every acquisition carries a monotonically increasing FENCING TOKEN
  (Chubby/ZooKeeper style). A holder re-validates (:meth:`check`)
  immediately before each mutation; if the lease was stolen (expired
  TTL, dead holder, or ``force=True``), the old writer sees a token it
  no longer owns and aborts with :class:`WriterFencedError` INSTEAD of
  interleaving a stale append after the new writer's.
* Reclaim is automatic in the two no-contention cases: the holder
  process is dead (same-host pid probe), or the lease TTL elapsed
  (cross-host crash, where pids can't be probed — the 100 TB posture:
  executors/drivers on other machines are only observable through
  time). ``force=True`` is the operator override.
* Every mutation runs inside the one writer window,
  :meth:`WriterLease.hold`: acquire unless already held, release only
  what it acquired — so sequential writers never block each other.

The lease file is one JSON object written atomically (tmp +
``os.replace``); first-ever creation uses ``O_EXCL`` so two
simultaneous first acquirers can't both win. Readers never touch it.
"""

from __future__ import annotations

import json
import os
import socket
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager
from pathlib import Path

try:  # POSIX advisory locks; absent on some platforms (then acquire
    import fcntl  # falls back to the unserialized read-modify-write)
except ImportError:  # pragma: no cover - non-POSIX
    fcntl = None  # type: ignore[assignment]


class ConcurrentWriterError(RuntimeError):
    """A live writer already holds the lease — refuse to mutate."""


class LeaseCorruptError(RuntimeError):
    """The lease file exists but is not valid JSON. Refusing to guess:
    silently mapping a corrupt file to token 0 would RESET the
    monotonic fencing floor, letting a previously-fenced writer pass
    later check() comparisons against a regressed token space (ADVICE
    r12). The operator inspects/repairs the file; deleting it is an
    explicit decision to restart the token space."""


class WriterFencedError(RuntimeError):
    """This writer's lease was taken over; its token is stale and it
    must abort before mutating (a stale append AFTER the takeover is
    the corruption the fencing token exists to prevent)."""


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


class WriterLease:
    """File-based writer lease with fencing tokens.

    ``ttl`` bounds how long a vanished holder blocks successors when
    its liveness can't be probed (different host). ``clock`` is
    injectable so tests drive expiry deterministically.
    """

    def __init__(
        self,
        path: str | Path,
        ttl: float = 900.0,
        clock: Callable[[], float] = time.time,
    ) -> None:
        self.path = Path(path)
        self.ttl = float(ttl)
        self.clock = clock
        self.owner = f"{socket.gethostname()}:{os.getpid()}:{uuid.uuid4().hex[:12]}"
        self.token: int | None = None  # held fencing token, None = not held

    # -- state -------------------------------------------------------------

    @property
    def held(self) -> bool:
        return self.token is not None

    def read_state(self) -> dict | None:
        try:
            return json.loads(self.path.read_text())
        except FileNotFoundError:
            return None
        except json.JSONDecodeError as e:
            # torn write of the tmp+replace pair can't happen on POSIX;
            # a hand-edited/corrupt file must be refused LOUDLY — the
            # previous fallback ({"token": 0}) collapsed the monotonic
            # fencing floor (ADVICE r12, see LeaseCorruptError)
            raise LeaseCorruptError(
                f"writer lease file {self.path} is corrupt ({e}); refusing "
                "to reset the fencing-token floor. Repair the JSON (keep "
                "'token' at or above its previous value), or delete the "
                "file to deliberately restart the token space."
            ) from e

    def _write(self, state: dict) -> None:
        tmp = self.path.with_suffix(".tmp")
        tmp.write_text(json.dumps(state))
        os.replace(tmp, self.path)

    @contextmanager
    def _mutex(self):
        """Serialize lease-file read-modify-writes across processes.

        Reclaiming an expired/released lease is read-then-replace;
        without a mutex two processes that concurrently read the same
        expired state would BOTH write token N+1 and both believe they
        hold it (ADVICE r12). An exclusive flock on a sidecar ``.lock``
        file turns the reclaim into an atomic compare-and-swap for
        every writer that goes through this module (all of them do);
        the kernel drops the lock when a holder dies, so no stale-lock
        GC is needed. Advisory-lock caveat: on network filesystems
        without flock semantics this degrades to the unserialized path,
        where the TTL + fencing-token check() remains the (weaker,
        eventually-caught) guard."""
        if fcntl is None:  # pragma: no cover - non-POSIX
            yield
            return
        self.path.parent.mkdir(parents=True, exist_ok=True)
        fd = os.open(self.path.with_suffix(".lock"), os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    # -- protocol ----------------------------------------------------------

    def acquire(self, force: bool = False) -> int:
        """Take (or renew) the lease; returns the fencing token.

        Raises :class:`ConcurrentWriterError` if another holder is
        live: its pid responds on this host, and its TTL has not
        elapsed. ``force`` overrides (the displaced writer is fenced at
        its next :meth:`check`). The whole read-decide-write runs under
        :meth:`_mutex`, so concurrent reclaims of the same expired
        lease serialize: exactly one gets token N+1, the other sees the
        new live holder and refuses."""
        with self._mutex():
            return self._acquire_locked(force)

    def _acquire_locked(self, force: bool) -> int:
        cur = self.read_state()
        if cur is None:
            self.path.parent.mkdir(parents=True, exist_ok=True)
            state = self._state_dict(token=1)
            try:
                fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                # lost a creation race against a non-flock writer;
                # re-read under the mutex we already hold
                return self._acquire_locked(force)
            with os.fdopen(fd, "w") as fh:
                json.dump(state, fh)
            self.token = 1
            return 1
        if cur["owner"] == self.owner:
            self._write(self._state_dict(token=int(cur["token"])))  # renew
            self.token = int(cur["token"])
            return self.token
        same_host = cur.get("host") == socket.gethostname()
        holder_dead = same_host and not _pid_alive(int(cur.get("pid", -1)))
        expired = self.clock() - float(cur["acquired_at"]) >= float(cur["ttl"])
        if not (force or holder_dead or expired):
            raise ConcurrentWriterError(
                f"writer lease at {self.path} is held by {cur['owner']} "
                f"(age {self.clock() - float(cur['acquired_at']):.0f}s of "
                f"{cur['ttl']:.0f}s TTL); a second concurrent appender "
                "would interleave index state. Wait for expiry, release "
                "the holder, or acquire(force=True) to fence it."
            )
        self.token = int(cur["token"]) + 1
        self._write(self._state_dict(token=self.token))
        return self.token

    def check(self) -> None:
        """Validate this writer still holds the lease — call
        immediately before every mutation."""
        if self.token is None:
            raise WriterFencedError(
                f"writer lease at {self.path} is not held by this writer"
            )
        cur = self.read_state()
        if (
            cur is None
            or cur["owner"] != self.owner
            or int(cur["token"]) != self.token
        ):
            holder = cur["owner"] if cur else "<released>"
            raise WriterFencedError(
                f"writer lease at {self.path} was taken over by {holder} "
                f"(token {cur['token'] if cur else '-'} vs held "
                f"{self.token}); aborting before a stale mutation."
            )

    @contextmanager
    def hold(self):
        """The writer window: acquire unless already held, release on
        exit only if this window acquired. Call :meth:`check`
        immediately before each mutation inside it."""
        transient = not self.held
        if transient:
            self.acquire()
        try:
            yield
        finally:
            if transient:
                self.release()

    def release(self) -> None:
        """Drop the lease if still held by this writer. The FILE stays
        (token floor for future fencing); only the holder fields clear."""
        if self.token is None:
            return
        with self._mutex():
            self._release_locked()
        self.token = None

    def _release_locked(self) -> None:
        cur = self.read_state()
        if cur and cur["owner"] == self.owner and int(cur["token"]) == self.token:
            self._write(
                {
                    **self._state_dict(token=self.token),
                    "owner": "",
                    "pid": -1,
                    "ttl": 0.0,  # anyone may re-acquire immediately
                }
            )

    def _state_dict(self, token: int) -> dict:
        return {
            "owner": self.owner,
            "token": token,
            "acquired_at": self.clock(),
            "ttl": self.ttl,
            "pid": os.getpid(),
            "host": socket.gethostname(),
        }
