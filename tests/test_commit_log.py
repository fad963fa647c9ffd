"""The commit log (``eventsourcing_spark.commit_log``) over the file and
memory CAS backends and the in-process S3 double: heads, lost races,
checkpoints, cold reads and vacuum. No Spark needed."""

from __future__ import annotations

import sys
import threading
import uuid

import pytest

from eventsourcing_spark.cas import FileCasBackend, MemoryCasBackend
from eventsourcing_spark.commit_log import CHECKPOINT_EVERY, CommitLog
from eventsourcing_spark.object_store import ObjectStoreCasBackend
from tests.s3lite import S3Lite


@pytest.fixture(scope="module")
def s3lite():
    srv = S3Lite(page_size=7)  # exercise list paging
    yield srv
    srv.close()


@pytest.fixture(params=["file", "memory", "s3"])
def backend(request, tmp_path, s3lite):
    if request.param == "file":
        return FileCasBackend(str(tmp_path / "log"))
    if request.param == "s3":
        return ObjectStoreCasBackend(
            s3lite.endpoint, "test-bucket", prefix=f"{uuid.uuid4().hex}/",
            backoff=0.005,
        )
    return MemoryCasBackend()


def add(*paths, **meta):
    return lambda head: {"add": [{"path": p, **meta} for p in paths]}


class Counting:
    """A backend wrapper that counts ``get`` calls."""

    def __init__(self, inner):
        self.inner, self.gets = inner, 0

    def get(self, key):
        self.gets += 1
        return self.inner.get(key)

    def __getattr__(self, name):
        return getattr(self.inner, name)


def test_commit_and_head(backend):
    log = CommitLog(backend, "events/3/")
    assert log.head().version == 0 and log.head().files == {}
    log.commit(add("a.parquet", aggregate_id="x"))
    log.commit(add("b.parquet"))
    head = log.commit(lambda h: {"remove": ["a.parquet"], "add": [{"path": "c"}]})
    assert head.version == 3 and list(head.files) == ["b.parquet", "c"]
    # a second object over the same keys reads the same head cold
    cold = CommitLog(backend, "events/3/").head()
    assert cold == head
    # logs under other prefixes are separate
    assert CommitLog(backend, "events/30/").head().version == 0
    assert log.commit(lambda h: None) == head  # nothing to commit


def test_lost_race_rederives_from_the_new_head(backend):
    """Another writer commits between this commit's derive and its
    ``put_if_absent``: the put loses, the entry is derived again from the
    winner's head, and the winner's file stays."""
    a, b = CommitLog(backend, "t/0/"), CommitLog(backend, "t/0/")
    a.commit(add("first"))
    seen = []

    def derive(head):
        seen.append(head.version)
        if len(seen) == 1:
            a.commit(add("winner"))
        return {"add": [{"path": "loser"}]}

    head = b.commit(derive)
    assert seen == [1, 2] and head.version == 3
    assert list(head.files) == ["first", "winner", "loser"]


def test_derive_may_abort(backend):
    log = CommitLog(backend, "t/0/")
    log.commit(add("a"))

    def refuse(head):
        raise ValueError("clash")

    with pytest.raises(ValueError, match="clash"):
        log.commit(refuse)
    assert log.head().version == 1


def test_cold_read_applies_at_most_checkpoint_every_entries(backend):
    log = CommitLog(backend, "")
    n = 2 * CHECKPOINT_EVERY + 5
    for i in range(n):
        log.commit(add(f"f{i}"))
    counting = Counting(backend)
    head = CommitLog(counting, "").head()
    assert head.version == n and len(head.files) == n
    # the checkpoint, the entries after it, and a miss past the head
    assert counting.gets <= CHECKPOINT_EVERY + 1
    # a cached head only probes the next version (and its own entry)
    warm = CommitLog(counting, "")
    warm.head()
    counting.gets = 0
    assert warm.head() == head and counting.gets == 2


def test_vacuum_keeps_head_readable(backend):
    log = CommitLog(backend, "v/")
    for i in range(5):
        log.commit(add(f"f{i}"))
    cached = CommitLog(backend, "v/")
    cached.head()  # version 5
    log.commit(add("f5"))
    log.commit(add("f6"))
    assert log.vacuum(grace_seconds=0.0) == 6  # entries 1-6; 7 and c7 stay
    assert CommitLog(backend, "v/").head() == log.head()
    # a cached head whose entry was vacuumed reloads from the checkpoint
    assert list(cached.head().files) == [f"f{i}" for i in range(7)]
    assert cached.commit(add("f7")).version == 8
    assert log.vacuum(grace_seconds=0.0) == 2  # entry 7 and checkpoint 7
    assert len(CommitLog(backend, "v/").head().files) == 8


def test_entries_replay_in_order_until_vacuumed(backend):
    """``entries`` yields each version's entry with its age, in order, and
    ``head_at`` the files at a version; both raise when they need an
    entry a vacuum deleted instead of skipping it."""
    log = CommitLog(backend, "r/")
    log.commit(add("a"))
    log.commit(lambda h: {"remove": ["a"], "add": [{"path": "b"}], "data_change": False})
    log.commit(add("c"))
    got = list(log.entries(1, 3))
    assert [v for v, _e, _a in got] == [2, 3]
    assert got[0][1]["data_change"] is False and got[1][1]["add"] == [{"path": "c"}]
    assert all(0 <= age < 60 for _v, _e, age in got)
    assert list(log.entries(3, 3)) == []
    assert [list(log.head_at(v).files) for v in (1, 2, 3)] == [["a"], ["b"], ["b", "c"]]
    log.vacuum(grace_seconds=0.0)
    assert list(log.entries(2, 3))[0][0] == 3
    assert list(log.head_at(3).files) == ["b", "c"]
    with pytest.raises(LookupError, match="vacuumed"):
        list(log.entries(0, 3))
    with pytest.raises(LookupError, match="vacuumed"):
        log.head_at(2)


def test_racing_committers_lose_nothing(backend):
    """Six threads (more than the suite's cores), three sharing one log
    object and three with their own, commit ten files each under a short
    switch interval."""
    shared = CommitLog(backend, "race/")

    def worker(w):
        log = shared if w % 2 else CommitLog(backend, "race/")
        for i in range(10):
            log.commit(add(f"w{w}-{i}"))

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(6)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
    finally:
        for t in threads:
            t.join(timeout=120)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    head = CommitLog(backend, "race/").head()
    assert head.version == 60
    assert set(head.files) == {f"w{w}-{i}" for w in range(6) for i in range(10)}
