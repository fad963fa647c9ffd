"""One commit log over a :class:`~eventsourcing_spark.cas.CasBackend`.

The engine's one commit protocol: the streaming-curation registries
(``pipeline/registry_manifest.py``) and the event store (one log per
table bucket, ``store/event_store.py``) both publish data files through
it. It is the Delta Lake transaction log reduced to what they need
(Armbrust et al., VLDB 2020):

* **Entries.** Version ``N`` is the key ``<prefix>v<N>.json`` holding
  ``{"version": N, "add": [file, ...], "remove": [path, ...]}``. A file
  is a dict with a ``path`` plus whatever the caller records about it
  (bytes, the one ``aggregate_id`` it holds, a registry epoch). Versions
  are contiguous from 1.
* **Commit.** Read the head (version ``N``), derive the entry from it,
  ``put_if_absent`` version ``N+1``. Losing that race means another
  writer published ``N+1`` first: the loop reads the new head and
  derives the entry again from it, so a conflict check always runs
  against the files the entry will be committed over, and an entry never
  drops a file a concurrent commit added. No lock is held at any point.
* **Checkpoints.** Every ``CHECKPOINT_EVERY`` versions the committer
  also writes ``<prefix>c<N>.json``, the full file list at ``N``. A cold
  reader lists the checkpoint keys, loads the newest one and applies at
  most ``CHECKPOINT_EVERY - 1`` entries after it; a commit itself only
  writes its own add/remove entry, never a file list that grows with
  history.
* **Cached heads.** A ``CommitLog`` object keeps the last head it read;
  the next read probes only the next version's key. ``vacuum`` deletes
  entries in ascending order and only below a checkpoint, so a cached
  head whose own entry is gone is reloaded from the checkpoints.
* **Replay.** ``entries(after, upto)`` reads the entries between two
  versions in order and ``head_at(version)`` the files at a version —
  the per-bucket version vector of the event store is the offset of its
  change feed (``store/feed.py``). An entry that ``vacuum`` already
  deleted makes them raise; a replay never skips one.

Readers resolve their files from a head and never list a data
directory, so they cannot see an uncommitted file or a half-done
rewrite. A commit never deletes the files it removes: a reader of an
older head, or a replay of the entries that added them, may still open
them. The callers' vacuums (``vacuum_registry``, ``vacuum_store``)
delete removed files only after a grace period.
"""

from __future__ import annotations

import json
import logging
import threading
from collections.abc import Callable
from dataclasses import dataclass

from eventsourcing_spark.cas import CasBackend

CHECKPOINT_EVERY = 32
COMMIT_RETRIES = 64

_log = logging.getLogger(__name__)


@dataclass(frozen=True)
class Head:
    """A log version and its live files (``path -> file dict``, in the
    order they were added). Never mutated: each commit builds a new one."""

    version: int
    files: dict[str, dict]


_EMPTY = Head(0, {})


def _apply(head: Head, entry: dict) -> Head:
    gone = set(entry.get("remove", ()))
    files = {p: f for p, f in head.files.items() if p not in gone}
    for f in entry.get("add", ()):
        files[f["path"]] = f
    return Head(head.version + 1, files)


class CommitLog:
    """The log rooted at ``prefix`` in ``backend``; see the module docstring."""

    def __init__(self, backend: CasBackend, prefix: str = ""):
        self.backend = backend
        self.prefix = prefix
        self._cached = _EMPTY
        self._lock = threading.Lock()  # guards _cached across threads

    def _key(self, kind: str, version: int) -> str:
        return f"{self.prefix}{kind}{version:012d}.json"

    def _entry(self, version: int) -> dict | None:
        got = self.backend.get(self._key("v", version))
        return None if got is None else json.loads(got.data)

    def _roll(self, head: Head) -> Head:
        """``head`` with every later committed entry applied."""
        while (entry := self._entry(head.version + 1)) is not None:
            head = _apply(head, entry)
        return head

    def _load(self) -> Head:
        """Cold read: the newest checkpoint plus the entries after it. The
        checkpoint list is re-read after the roll, so a vacuum that wrote
        a newer checkpoint (and may have deleted entries) meanwhile makes
        the read start over instead of stopping early."""
        for _ in range(8):
            newest = max(self.backend.list_keys(self.prefix + "c"), default=None)
            head = _EMPTY
            if newest is not None:
                got = self.backend.get(newest)
                if got is None:
                    continue  # vacuumed between list and get
                ck = json.loads(got.data)
                head = Head(ck["version"], {f["path"]: f for f in ck["files"]})
            base = head.version
            head = self._roll(head)
            if max(self.backend.list_keys(self.prefix + "c"), default=None) != newest:
                continue
            if head.version - base >= CHECKPOINT_EVERY:
                self.checkpoint(head)
            return head
        raise RuntimeError(f"commit log unreadable under churn: {self.prefix!r}")

    def _publish(self, head: Head) -> Head:
        with self._lock:
            if head.version > self._cached.version:
                self._cached = head
        return head

    def head(self) -> Head:
        """The newest committed version and its files."""
        cur = self._cached
        if cur.version == 0:
            return self._publish(self._load())
        nxt = self._roll(cur)
        if nxt is cur and self._entry(cur.version) is None:
            nxt = self._load()  # our cached entry was vacuumed
        return self._publish(nxt)

    def commit(self, derive: Callable[[Head], dict | None]) -> Head:
        """Publish ``derive(head)`` as the next version; returns the new
        head (the current one when ``derive`` returns None: nothing to
        commit). ``derive`` runs again on the new head after every lost
        race, and may raise to abort."""
        for _ in range(COMMIT_RETRIES):
            cur = self.head()
            entry = derive(cur)
            if entry is None:
                return cur
            nxt = _apply(cur, entry)
            data = json.dumps({"version": nxt.version, **entry}).encode()
            if self.backend.put_if_absent(self._key("v", nxt.version), data):
                if nxt.version % CHECKPOINT_EVERY == 0:
                    try:
                        self.checkpoint(nxt)
                    except Exception:  # noqa: BLE001 — the commit stands:
                        # a cold reader applies more entries and writes it
                        _log.warning(
                            "checkpoint %s failed", self._key("c", nxt.version),
                            exc_info=True,
                        )
                return self._publish(nxt)
        raise RuntimeError(
            f"commit lost {COMMIT_RETRIES} consecutive races on {self.prefix!r}"
        )

    def entries(self, after: int, upto: int):
        """Yield ``(version, entry, age)`` for versions ``after+1 ..
        upto`` in order, ``age`` being the seconds since the entry was
        committed. Raises ``LookupError`` at an entry that ``vacuum``
        deleted: a reader that far behind cannot replay the log."""
        for version in range(after + 1, upto + 1):
            got = self.backend.get(self._key("v", version))
            if got is None:
                raise LookupError(
                    f"commit log {self.prefix!r}: entry {version} was vacuumed"
                )
            yield version, json.loads(got.data), got.age

    def head_at(self, version: int) -> Head:
        """The files at ``version``: the newest checkpoint at or below it
        plus the entries after that. Raises ``LookupError`` when
        ``vacuum`` deleted what that needs."""
        cur = self.head()
        if cur.version == version:
            return cur
        n = len(self.prefix) + 1
        below = [
            k for k in self.backend.list_keys(self.prefix + "c")
            if int(k[n:-5]) <= version
        ]
        head = _EMPTY
        if below:
            got = self.backend.get(max(below))
            if got is None:
                raise LookupError(f"commit log {self.prefix!r}: {max(below)} was vacuumed")
            ck = json.loads(got.data)
            head = Head(ck["version"], {f["path"]: f for f in ck["files"]})
        for _v, entry, _age in self.entries(head.version, version):
            head = _apply(head, entry)
        return head

    def checkpoint(self, head: Head) -> None:
        """Write the full file list at ``head`` (losing to an identical
        concurrent checkpoint is fine)."""
        data = {"version": head.version, "files": list(head.files.values())}
        self.backend.put_if_absent(
            self._key("c", head.version), json.dumps(data).encode()
        )

    def vacuum(self, grace_seconds: float) -> int:
        """Checkpoint the head, then delete the entries and checkpoints
        below it that are older than ``grace_seconds``, oldest first.
        Returns how many keys were deleted."""
        head = self._load()
        if head.version == 0:
            return 0
        self.checkpoint(head)
        keys = [
            k
            for kind in ("v", "c")
            for k in self.backend.list_keys(self.prefix + kind)
        ]
        removed = 0
        for key in sorted(keys, key=lambda k: k[len(self.prefix) + 1:]):
            if int(key[len(self.prefix) + 1:-5]) >= head.version:
                continue
            got = self.backend.get(key)
            # version-checked delete: a key re-written or re-aged between
            # the get and the delete survives until the next vacuum
            if got is not None and got.age > grace_seconds:
                removed += self.backend.delete_if(key, got.version)
        return removed
