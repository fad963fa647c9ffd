"""The store's change feed (``events_file_stream``, read from the
per-bucket commit logs by ``store/feed.py``): what each kind of commit
delivers, backpressure and resume, and the retention rule it shares with
``vacuum_store``."""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import pytest

from eventsourcing_spark.maintenance import compact_events, vacuum_store
from eventsourcing_spark.projection import CheckpointStore, Projector
from eventsourcing_spark.projection.projector import events_file_stream
from eventsourcing_spark.store.feed import _pack

from tests.account import KIND_CREATED, KIND_DEPOSITED
from tests.test_maintenance import _OPERATORS, _seed_account
from tests.test_projection import BalanceReadModel

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _open(store, checkpoint, max_files=None, now=True):
    """A feed query collecting each micro-batch's ``id`` set."""
    batches: list[set[str]] = []
    writer = (
        events_file_stream(store, max_files)
        .writeStream.foreachBatch(
            lambda df, _e: batches.append({r.id for r in df.select("id").collect()})
        )
        .option("checkpointLocation", str(checkpoint))
    )
    if now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), batches


def drain(store, checkpoint, max_files=None) -> list[set[str]]:
    """One availableNow run; returns its micro-batches' id sets."""
    q, batches = _open(store, checkpoint, max_files)
    q.awaitTermination(120)
    if q.exception() is not None:
        raise q.exception()
    return batches


def delivered(store, checkpoint) -> list[str]:
    return sorted(i for b in drain(store, checkpoint) for i in b)


def deposit(store, agg, version, money=1, at=T0):
    kind = KIND_CREATED if version == 0 else KIND_DEPOSITED
    store.append(agg, "Account", [(kind, {"money": money, "owner": "O"})],
                 expected_version=version, created_at=at)


def active_ids(store, buckets=None) -> set[str]:
    return {r.id for r in store._view("events", buckets).filter("migration = 0").collect()}


def test_pack_groups_files_like_the_file_source():
    """Sixteen small files over 4 cores make 4 read tasks; a file larger
    than a split gets a task of its own; no files make no task."""
    small = [{"path": f"s{i}", "bytes": 3000} for i in range(16)]
    assert [len(t) for t in _pack(small, 4)] == [4, 4, 4, 4]
    big = [{"path": "big", "bytes": 200 * 2**20}] + small
    assert _pack(big, 4)[0] == ["big"]
    assert sorted(p for t in _pack(big, 4) for p in t) == sorted(f["path"] for f in big)
    assert _pack([], 4) == []


def test_compaction_is_not_delivered_again(new_store, tmp_path):
    """After ``compact_events`` a drain delivers 0 rows; the appends after
    it are delivered once."""
    store = new_store(tmp_path / "s", n_buckets=4)
    for i in range(8):
        deposit(store, f"acc-{i}", 0)
    first = delivered(store, tmp_path / "cp")
    assert first == sorted(active_ids(store))
    compact_events(store)
    assert delivered(store, tmp_path / "cp") == []
    deposit(store, "acc-0", 1)
    assert len(delivered(store, tmp_path / "cp")) == 1


@pytest.mark.parametrize("op", ["forget", "migrate"])
def test_rewrites_deliver_only_the_rows_they_add(new_store, spark, tmp_path, op):
    """After forget or a migration a drain delivers exactly the active rows
    of the files their commits add; after forget, the live projection's
    C2 filter rejects them all and its read model is unchanged."""
    store = new_store(tmp_path / "s", n_buckets=4)
    _seed_account(store)
    deposit(store, "acc-other", 0, money=5)
    rm = BalanceReadModel()
    projector = Projector(store, "bal", rm.handler,
                          CheckpointStore(spark, str(tmp_path / "s")), splits=2)
    projector.project(now=T0 + timedelta(minutes=2))

    def live():
        projector.live_stream_writer(events_file_stream(store)).option(
            "checkpointLocation", str(tmp_path / "live")
        ).trigger(availableNow=True).start().awaitTermination(120)

    live()
    drain(store, tmp_path / "raw")
    before = (dict(rm.balances), rm.handled_events)
    pins = store._pin("events")

    _OPERATORS[op](store)
    added = [b for b, h in store._pin("events").items() if h.version > pins[b].version]
    assert added
    assert delivered(store, tmp_path / "raw") == sorted(active_ids(store, added))
    if op == "forget":
        live()
        assert (rm.balances, rm.handled_events) == before


def test_a_rewrite_in_the_same_batch_delivers_each_row_once(new_store, tmp_path):
    """A feed that starts after appends and a forget of the same bucket
    reads the forget's file instead of the appends' ones: each active row
    once."""
    store = new_store(tmp_path / "s", n_buckets=2)
    _seed_account(store)
    compact_events(store)
    store.append("acc-m", "Account", [(KIND_DEPOSITED, {"money": 1})],
                 expected_version=2, created_at=T0)
    _OPERATORS["forget"](store)
    ids = delivered(store, tmp_path / "cp")
    assert ids == sorted(active_ids(store))
    assert len(ids) == 3


def test_max_files_per_trigger_bounds_each_batch_and_resumes(new_store, tmp_path):
    """With ``max_files_per_trigger=3`` every micro-batch reads at most 3
    one-event files, on a fresh query and after a restart from its
    checkpoint; together the batches deliver every event once."""
    store = new_store(tmp_path / "s", n_buckets=4)
    for i in range(10):
        deposit(store, f"acc-{i}", 0)

    def run():
        q, batches = _open(store, tmp_path / "cp", max_files=3, now=False)
        q.processAllAvailable()
        q.stop()
        assert q.exception() is None
        return batches

    first = run()
    assert len(first) >= 4 and max(map(len, first)) <= 3
    for i in range(7):
        deposit(store, f"acc-{i}", 1)
    second = run()
    assert len(second) >= 3 and max(map(len, second)) <= 3
    ids = [i for b in first + second for i in b]
    assert sorted(ids) == sorted(active_ids(store))
    # availableNow is one batch for a Python source: the cap bounds it
    deposit(store, "acc-0", 2)
    deposit(store, "acc-1", 2)
    assert [len(b) for b in drain(store, tmp_path / "now", max_files=3)] == [3]


def test_a_frame_built_before_a_rewrite_still_reads(new_store, tmp_path):
    """A Spark frame built before a compaction and run after it returns
    the rows it saw: a commit never deletes the files it removes."""
    store = new_store(tmp_path / "s", n_buckets=2)
    for i in range(6):
        deposit(store, f"acc-{i}", 0)
    view = store.events()
    n = view.count()
    compact_events(store)
    assert view.count() == n == 6


def test_a_point_read_holding_an_old_head_still_reads(new_store, tmp_path):
    """A point read over the head from before a compaction returns the
    stream's rows."""
    store = new_store(tmp_path / "s", n_buckets=2)
    for i in range(6):
        deposit(store, f"acc-{i}", 0)
    head = store._logs["events", store._bucket("acc-0")].head()
    compact_events(store)
    rows = store._read_stream("events", "acc-0", ["aggregate_version"], head=head)
    assert rows == [{"aggregate_version": 1}]


def _data_files(base) -> set[str]:
    return {
        os.path.relpath(os.path.join(root, n), base)
        for root, _dirs, names in os.walk(base)
        for n in names if n.endswith(".parquet")
    }


def _named(store) -> set[str]:
    return {
        os.path.join(t, p)
        for t in ("events", "snapshots")
        for h in store._pin(t).values()
        for p in h.files
    }


def _age(path, seconds):
    st = os.stat(path)
    os.utime(path, (st.st_atime - seconds, st.st_mtime - seconds))


def test_vacuum_store_keeps_what_readers_can_need(new_store, tmp_path):
    """Files a head names and files newer than the grace period survive, and
    so does a superseded file whose removal is younger than it; an
    uncommitted orphan older than it goes. With no grace left the
    superseded files go too. Reads and appends are unchanged, and the log
    keeps a bounded number of keys."""
    base = tmp_path / "s"
    store = new_store(base, n_buckets=1)
    for i in range(40):
        deposit(store, f"acc-{i % 4}", i // 4, at=T0 + timedelta(seconds=i))
    store.save_snapshot("snap", "acc-0", 1, "Account", {"balance": 1})
    old = _data_files(base)
    compact_events(store)
    orphan = os.path.join(base, "events", "bucket=0", "part-orphan.parquet")
    fresh = os.path.join(base, "events", "bucket=0", "part-fresh.parquet")
    for path in (orphan, fresh):
        with open(path, "wb") as f:
            f.write(b"never committed")
    for rel in old:
        _age(base / rel, 7200)
    _age(orphan, 7200)

    before = sorted(tuple(r) for r in store.events().collect())
    got = vacuum_store(store, grace_seconds=3600)
    files = _data_files(base)
    assert got["files_removed"] == 1 and not os.path.exists(orphan)
    assert _named(store) | old | {os.path.relpath(fresh, base)} == files

    got = vacuum_store(store, grace_seconds=0)
    assert _data_files(base) == _named(store)
    assert got["files_removed"] == len(old - _named(store)) + 1  # and the fresh one
    assert len(store.backend.list_keys("events/0/")) <= 2
    assert sorted(tuple(r) for r in store.events().collect()) == before
    assert [r["aggregate_version"] for r in store.read_aggregate_events("acc-1")] == list(
        range(1, 11)
    )
    deposit(store, "acc-1", 10)
    assert store.read_snapshot("acc-0")["id"] == "snap"
    assert len(store.read_aggregate_events("acc-1")) == 11


def test_a_feed_behind_a_vacuum_raises(new_store, tmp_path):
    """A feed whose unread log entries a vacuum deleted fails; it never
    skips them. A new feed over the vacuumed log delivers every active
    row once."""
    store = new_store(tmp_path / "s", n_buckets=1)
    deposit(store, "acc-0", 0)
    assert len(delivered(store, tmp_path / "cp")) == 1
    for v in range(1, 4):
        deposit(store, "acc-0", v)
    vacuum_store(store, grace_seconds=0)
    with pytest.raises(Exception, match="vacuumed"):
        drain(store, tmp_path / "cp")
    # a new feed starts from the files at the head instead
    assert delivered(store, tmp_path / "new") == sorted(active_ids(store))
