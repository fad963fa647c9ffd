"""Put-if-absent / compare-and-swap backend seam (VERDICT r9 #5).

The two coordination protocols in this engine speak this small
conditional-mutation interface: the catch-up singleton lease
(``projection/lease.py``, the reference's WaitForLock per
dist/redlock/redlock.go:67-101) and the one commit log
(``commit_log.py``), which the streaming-curation registries
(``pipeline/registry_manifest.py``) and the event store (one log per
table bucket) commit through. Implementations:

* :class:`FileCasBackend` — the default, carrying the original POSIX
  protocol (hard-link create-if-absent; rename-to-tombstone-and-verify
  conditional delete). Still dependency-free and correct on any local
  or NFS-like filesystem with atomic ``link``/``rename``.
* :class:`MemoryCasBackend` — an in-process reference implementation
  with REAL compare-and-swap semantics (what S3 conditional writes /
  GCS ``ifGenerationMatch`` / ABS ETag ``If-Match`` provide), plus an
  operation-interception hook so tests can inject a competing mutation
  at the worst possible interleaving point. An object-store backend is
  this class with the dict swapped for conditional HTTP calls — every
  operation below maps 1:1 onto a conditional PUT/DELETE.

Versions are opaque tokens. The file backend's token is
``"<inode>:<mtime_ns>"`` — two distinct live values can never share
one, because even an immediately-recycled inode (ext4/tmpfs reuse
freed inodes at once — the round-9 ADVICE scenario) carries a fresh
nanosecond mtime. ``delete_if`` therefore restores any entry whose
token does not match the expected one, closing the ADVICE hole where
an inode-only comparison could unlink a successor's fresh lease.

Semantics (all operations atomic per key):

* ``put_if_absent(key, data) -> version | None`` — create; ``None``
  when the key exists (the loser of the race).
* ``get(key) -> CasEntry | None`` — data + version + age (seconds
  since last mutation; drives lease-TTL staleness).
* ``touch(key, expected) -> version | None`` — heartbeat: refresh the
  age iff the version still matches (lease renew).
* ``delete_if(key, expected) -> bool`` — delete iff the version still
  matches (lease release AND stale-break: exactly one of N concurrent
  breakers armed with the same observed version can win, and none can
  ever remove a fresher value).
* ``list_keys(prefix) -> [key]`` — log discovery (checkpoints).

Keys may contain ``/``: the file backend maps each segment to a
directory, so one backend can root many logs (the event store's
``events/<bucket>/…`` keys).
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from dataclasses import dataclass


@dataclass(frozen=True)
class CasEntry:
    data: bytes
    version: str
    age: float  # seconds since the entry was last created/touched


class CasBackend:
    """Interface; see the module docstring for the contract."""

    def put_if_absent(self, key: str, data: bytes) -> str | None:
        raise NotImplementedError

    def get(self, key: str) -> CasEntry | None:
        raise NotImplementedError

    def touch(self, key: str, expected: str) -> str | None:
        raise NotImplementedError

    def delete_if(self, key: str, expected: str) -> bool:
        raise NotImplementedError

    def list_keys(self, prefix: str = "") -> list[str]:
        raise NotImplementedError

    def shared(self) -> CasBackend:
        """A picklable backend over the same keys, for another process (a
        Spark Python worker). File and object-store backends are their
        own; ``MemoryCasBackend`` serves itself on a localhost port."""
        return self


class FileCasBackend(CasBackend):
    """POSIX implementation rooted at a directory; one key = one file.

    ``put_if_absent`` is write-temp + fsync + ``os.link`` (atomic
    create-if-absent). ``delete_if`` is the rename-to-tombstone dance:
    ``os.rename`` atomically claims whatever the key currently holds,
    the claimed file's token is compared to ``expected``, and a
    mismatch RESTORES the claimed entry (link-if-absent) and reports
    failure — so release and stale-break share one verified conditional
    delete instead of a check-then-unlink TOCTOU. The only file-backend
    caveat (documented, absent in the memory/object-store form): during
    the rename-verify-restore window the key is briefly absent, so a
    concurrent ``put_if_absent`` can win it; the restore then yields to
    that winner and the restored-over entry's holder sees LeaseLost on
    its next version-checked operation — single-holder is preserved.
    """

    def __init__(self, root: str):
        self.root = root

    # ------------------------------------------------------------ helpers
    def _path(self, key: str) -> str:
        return os.path.join(self.root, key)

    @staticmethod
    def _token(st: os.stat_result) -> str:
        return f"{st.st_ino}:{st.st_mtime_ns}"

    # ---------------------------------------------------------- interface
    def put_if_absent(self, key: str, data: bytes) -> str | None:
        folder = os.path.dirname(self._path(key))
        os.makedirs(folder, exist_ok=True)
        tmp = os.path.join(folder, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._path(key))
        except FileExistsError:
            return None
        finally:
            os.unlink(tmp)
        try:
            return self._token(os.stat(self._path(key)))
        except FileNotFoundError:
            # Created, then deleted before we could stat it: a version
            # token for the vanished entry can never match again, so a
            # "successful" acquire here would strand the caller (its
            # first renew/release raises LeaseLost). Treat create-then-
            # vanish as losing the race — the caller retries (r10 ADVICE).
            return None

    def get(self, key: str) -> CasEntry | None:
        path = self._path(key)
        for _ in range(8):  # re-read until data and token cohere
            try:
                st1 = os.stat(path)
                with open(path, "rb") as f:
                    data = f.read()
                st2 = os.stat(path)
            except FileNotFoundError:
                return None
            if self._token(st1) == self._token(st2):
                return CasEntry(
                    data, self._token(st2), time.time() - st2.st_mtime
                )
        # 8 coherence rounds exhausted: the key is churning faster than
        # we can stat-read-stat, and `data` may belong to a DIFFERENT
        # version than either token (torn read). Report "unreadable right
        # now" rather than fabricate a possibly-incoherent CasEntry —
        # callers (latest_manifest's churn loop, the lease observer)
        # already handle an absent/None answer by retrying (r10 ADVICE).
        return None

    def touch(self, key: str, expected: str) -> str | None:
        path = self._path(key)
        try:
            if self._token(os.stat(path)) != expected:
                return None
            # stat-to-utime gap: a break+reacquire in between makes the
            # utime land on the successor (refreshing a live lease's
            # age — never reviving a stale one), and the toucher's next
            # version check still reports the loss. Liveness-only skew.
            os.utime(path)
            return self._token(os.stat(path))
        except FileNotFoundError:
            return None

    def delete_if(self, key: str, expected: str) -> bool:
        path = self._path(key)
        tomb = os.path.join(os.path.dirname(path), f".tomb-{uuid.uuid4().hex}")
        try:
            os.rename(path, tomb)
        except FileNotFoundError:
            return False  # nothing to delete (or another breaker won)
        claimed = self._token(os.stat(tomb))
        if claimed != expected:
            # claimed a FRESHER entry (successor lease — possibly on a
            # recycled inode; the mtime_ns component still differs):
            # restore it and fail the conditional delete
            try:
                os.link(tomb, path)
            except FileExistsError:
                pass  # an even newer create won the name; yield to it
            os.unlink(tomb)
            return False
        os.unlink(tomb)
        return True

    def list_keys(self, prefix: str = "") -> list[str]:
        folder, _, start = prefix.rpartition("/")
        try:
            names = os.listdir(self._path(folder))
        except FileNotFoundError:
            return []
        return sorted(
            f"{folder}/{n}" if folder else n
            for n in names
            if n.startswith(start) and not n.startswith((".tmp-", ".tomb-"))
        )


class MemoryCasBackend(CasBackend):
    """Reference CAS implementation (dict + lock) with race injection.

    ``on_op(op, key)`` — when given — is invoked BEFORE each operation
    takes the store lock, so a test can run a competing backend call at
    exactly the point where a distributed race would interleave (e.g.
    a renew landing between a breaker's ``get`` and its ``delete_if``).
    The hook runs outside the lock; re-entrant backend calls from
    inside it are safe and themselves atomic.

    ``rewind(key, seconds)`` is a test-only clock control: ages an
    entry as if its holder stopped heartbeating ``seconds`` ago.
    """

    def __init__(self, on_op=None):
        self._store: dict[str, list] = {}  # key -> [data, version, mtime]
        self._lock = threading.Lock()
        self._counter = 0
        self.on_op = on_op
        self._served: _RemoteCasBackend | None = None

    def _hook(self, op: str, key: str) -> None:
        if self.on_op is not None:
            self.on_op(op, key)

    def _next_version(self) -> str:
        self._counter += 1
        return f"g{self._counter}"

    def put_if_absent(self, key: str, data: bytes) -> str | None:
        self._hook("put_if_absent", key)
        with self._lock:
            if key in self._store:
                return None
            v = self._next_version()
            self._store[key] = [data, v, time.time()]
            return v

    def get(self, key: str) -> CasEntry | None:
        self._hook("get", key)
        with self._lock:
            e = self._store.get(key)
            if e is None:
                return None
            return CasEntry(e[0], e[1], time.time() - e[2])

    def touch(self, key: str, expected: str) -> str | None:
        self._hook("touch", key)
        with self._lock:
            e = self._store.get(key)
            if e is None or e[1] != expected:
                return None
            e[1] = self._next_version()
            e[2] = time.time()
            return e[1]

    def delete_if(self, key: str, expected: str) -> bool:
        self._hook("delete_if", key)
        with self._lock:
            e = self._store.get(key)
            if e is None or e[1] != expected:
                return False
            del self._store[key]
            return True

    def list_keys(self, prefix: str = "") -> list[str]:
        self._hook("list_keys", prefix)
        with self._lock:
            return sorted(k for k in self._store if k.startswith(prefix))

    def shared(self) -> CasBackend:
        with self._lock:
            if self._served is None:
                self._served = _serve(self)
            return self._served

    # ------------------------------------------------------- test support
    def rewind(self, key: str, seconds: float) -> None:
        with self._lock:
            self._store[key][2] -= seconds


_OPS = ("put_if_absent", "get", "touch", "delete_if", "list_keys")


def _serve(backend: CasBackend) -> _RemoteCasBackend:
    """Serve ``backend``'s operations on a localhost port, from daemon
    threads, for the life of this process; returns the client."""
    from multiprocessing import AuthenticationError
    from multiprocessing.connection import Listener

    authkey = os.urandom(16)
    listener = Listener(("127.0.0.1", 0), authkey=authkey)

    def answer(conn) -> None:
        with conn:
            while True:
                try:
                    op, args = conn.recv()
                except EOFError:
                    return
                try:
                    if op not in _OPS:
                        raise ValueError(f"unknown CAS operation {op!r}")
                    conn.send((True, getattr(backend, op)(*args)))
                except Exception as e:  # noqa: BLE001 — re-raised by the client
                    conn.send((False, e))

    def accept() -> None:
        while True:
            try:
                conn = listener.accept()
            except (AuthenticationError, EOFError, OSError):  # a failed handshake
                continue
            threading.Thread(target=answer, args=(conn,), daemon=True).start()

    threading.Thread(target=accept, daemon=True, name="cas-serve").start()
    return _RemoteCasBackend(listener.address, authkey)


class _RemoteCasBackend(CasBackend):
    """Client of a backend served by ``_serve``: each operation is one
    round trip on a connection kept per process."""

    def __init__(self, address, authkey: bytes):
        self.address, self.authkey = address, authkey
        self._conn = None
        self._lock = threading.Lock()

    def __getstate__(self):
        return (self.address, self.authkey)

    def __setstate__(self, state) -> None:
        self.__init__(*state)

    def _call(self, op: str, *args):
        from multiprocessing.connection import Client

        with self._lock:
            if self._conn is None:
                self._conn = Client(self.address, authkey=self.authkey)
            self._conn.send((op, args))
            ok, value = self._conn.recv()
        if not ok:
            raise value
        return value

    def put_if_absent(self, key: str, data: bytes) -> str | None:
        return self._call("put_if_absent", key, data)

    def get(self, key: str) -> CasEntry | None:
        return self._call("get", key)

    def touch(self, key: str, expected: str) -> str | None:
        return self._call("touch", key, expected)

    def delete_if(self, key: str, expected: str) -> bool:
        return self._call("delete_if", key, expected)

    def list_keys(self, prefix: str = "") -> list[str]:
        return self._call("list_keys", prefix)
