"""M1 forget + M2 copy-replace migration golden tests
(test/pg/store_test.go:373-482, 484-633) and compaction.
"""

from __future__ import annotations

import json
import threading
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from eventsourcing_spark.maintenance import (
    compact_events,
    forget,
    migrate_in_place,
    vacuum_store,
)
from eventsourcing_spark.maintenance.migration import KIND_INVALIDATED
from eventsourcing_spark.store.codec import JsonCodec

from tests.account import (
    KIND_CREATED,
    KIND_DEPOSITED,
    KIND_OWNER_UPDATED,
    KIND_WITHDRAWN,
)

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
T1 = T0 + timedelta(hours=1)


def test_forget_golden(new_store, tmp_path):
    """Bodies scrubbed (owner blanked) in events + snapshots; counts and
    all other fields intact (test/pg/store_test.go:373-482)."""
    store = new_store(str(tmp_path / "fg"))
    last_id, _ = store.append(
        "acc-f", "Account",
        [
            (KIND_CREATED, {"money": 100, "owner": "Paulo"}),
            (KIND_OWNER_UPDATED, {"owner": "Paulo Quintans"}),
            (KIND_OWNER_UPDATED, {"owner": "Paulo Quintans Pereira"}),
        ],
        expected_version=0, created_at=T0,
    )
    store.save_snapshot(
        last_id, "acc-f", 3, "Account",
        {"status": "OPEN", "balance": 100, "owner": "Paulo Quintans Pereira"},
        created_at=T0,
    )
    # an unrelated stream must be untouched
    store.append(
        "acc-other", "Account",
        [(KIND_CREATED, {"money": 5, "owner": "Keep"})],
        expected_version=0, created_at=T0,
    )

    before = {r.id: r for r in store.events().collect()}

    forget(
        store,
        "acc-f",
        kinds=(KIND_OWNER_UPDATED,),
        event_scrubber=lambda kind, body: {**body, "owner": ""},
    )

    after = {r.id: r for r in store.events().collect()}
    assert set(before) == set(after)  # no rows added/removed
    for rid, row in after.items():
        old = before[rid]
        assert (row.aggregate_id, row.aggregate_version, row.kind) == (
            old.aggregate_id, old.aggregate_version, old.kind,
        )
        body = json.loads(bytes(row.body))
        if row.aggregate_id == "acc-f" and row.kind == KIND_OWNER_UPDATED:
            assert body["owner"] == ""
        else:
            assert bytes(row.body) == bytes(old.body), rid

    snap_body = json.loads(bytes(store.get_snapshot("acc-f").first().body))
    assert snap_body["owner"] == ""
    assert snap_body["balance"] == 100


def split_owner(owner: str) -> dict:
    first, _, last = owner.partition(" ")
    return {"firstName": first, "lastName": last}


def migration_handler(events):
    """AccountCreated/OwnerUpdated → _V2 with structured owner
    (test/aggregatev2.go:66-116 upcaster semantics)."""
    out = []
    for kind, body in events:
        if kind == KIND_CREATED:
            out.append(
                (KIND_CREATED + "_V2",
                 {"money": body["money"], "owner": split_owner(body["owner"])})
            )
        elif kind == KIND_OWNER_UPDATED:
            out.append(
                (KIND_OWNER_UPDATED + "_V2", {"owner": split_owner(body["owner"])})
            )
        else:
            out.append((kind, body))
    return out


def test_migration_copy_replace_golden(new_store, tmp_path):
    """4-event stream → 9 rows: v1-4 migration=1, v5 Invalidated,
    v6-9 migrated _V2 (test/pg/store_test.go:484-633)."""
    store = new_store(str(tmp_path / "mg"))
    last_id, _ = store.append(
        "acc-m", "Account",
        [
            (KIND_CREATED, {"money": 100, "owner": "Paulo Pereira"}),
            (KIND_DEPOSITED, {"money": 20}),
            (KIND_WITHDRAWN, {"money": 15}),
            (KIND_OWNER_UPDATED, {"owner": "Paulo Quintans Pereira"}),
        ],
        expected_version=0, created_at=T0,
    )
    store.save_snapshot(
        last_id, "acc-m", 4, "Account",
        {"status": "OPEN", "balance": 105, "owner": "Paulo Quintans Pereira"},
        created_at=T0,
    )
    # untouched stream (no target kinds... it has created though) — use a
    # Wallet kind stream to stay out of scope
    store.append(
        "w-1", "Wallet", [(KIND_DEPOSITED, {"money": 3})],
        expected_version=0, created_at=T0,
    )

    n = migrate_in_place(
        store,
        revision=1,
        aggregate_kind="Account",
        target_kinds=(KIND_CREATED, KIND_OWNER_UPDATED),
        handler=migration_handler,
        new_aggregate_kind="Account_V2",
        now=T1,
    )
    assert n == 1

    # all generations on disk: 4 old + 5 new + 1 wallet
    raw = store.events_raw().filter(F.col("aggregate_id") == "acc-m")
    rows = raw.orderBy("aggregate_version").collect()
    assert len(rows) == 9
    assert [r.aggregate_version for r in rows] == list(range(1, 10))
    assert [r.migration for r in rows] == [1, 1, 1, 1, 0, 0, 0, 0, 0]
    assert rows[4].kind == KIND_INVALIDATED and rows[4].migrated is False
    assert [r.kind for r in rows[5:]] == [
        "AccountCreated_V2", KIND_DEPOSITED, KIND_WITHDRAWN, "OwnerUpdated_V2",
    ]
    assert all(r.migrated for r in rows[5:])
    assert all(r.aggregate_kind == "Account_V2" for r in rows[5:])
    assert json.loads(bytes(rows[5].body)) == {
        "money": 100, "owner": {"firstName": "Paulo", "lastName": "Pereira"},
    }
    assert json.loads(bytes(rows[8].body)) == {
        "owner": {"firstName": "Paulo", "lastName": "Quintans Pereira"},
    }
    # ids of the new generation continue after the old ones
    assert min(r.id for r in rows[4:]) > max(r.id for r in rows[:4])

    # active view shows ONLY the new generation + untouched wallet (F8)
    active = store.events()
    assert active.filter(F.col("aggregate_id") == "acc-m").count() == 5
    assert active.filter(F.col("aggregate_id") == "w-1").count() == 1

    # snapshots of the migrated stream were deleted
    assert store.get_snapshot("acc-m").count() == 0

    # fold of the active generation gives balance 105 with structured owner
    bal = sum(
        json.loads(bytes(r.body)).get("money", 0)
        * (1 if r.kind != KIND_WITHDRAWN else -1)
        for r in rows[5:]
    )
    assert bal == 105

    # idempotence: target kinds no longer exist in the active view
    assert (
        migrate_in_place(
            store, 2, "Account", (KIND_CREATED, KIND_OWNER_UPDATED),
            migration_handler, now=T1 + timedelta(hours=1),
        )
        == 0
    )


def test_migration_ids_unique_across_fnv_colliding_streams(new_store, tmp_path):
    """Two streams whose aggregate_id FNV-31 hashes COLLIDE must still get
    globally unique migration event ids — the reference guarantees this
    via 80-bit random ULID entropy (eventid/eventid.go); here via a
    60-bit md5 stream digest + seq. Regression for the (hash << 32) | seq
    scheme, which emitted byte-identical ids for colliding streams."""
    from eventsourcing_spark.functions.hashing import fnv1a_32_py

    a, b = "acc-198824", "acc-568140"  # brute-forced FNV-31 collision
    assert fnv1a_32_py(a) == fnv1a_32_py(b)

    store = new_store(str(tmp_path / "col"), n_buckets=4)
    for agg in (a, b):
        store.append(
            agg, "Account",
            [(KIND_CREATED, {"money": 1, "owner": "X Y"}),
             (KIND_DEPOSITED, {"money": 2})],
            expected_version=0, created_at=T0,
        )
    n = migrate_in_place(
        store, revision=1, aggregate_kind="Account",
        target_kinds=(KIND_CREATED,), handler=migration_handler,
        new_aggregate_kind="Account_V2", now=T1,
    )
    assert n == 2
    new_rows = store.events_raw().filter(F.col("migration") == 0).collect()
    ids = [r.id for r in new_rows]
    assert len(ids) == len(set(ids)), "duplicate event ids across streams"
    # ids still monotone in version within each stream
    for agg in (a, b):
        srows = sorted(
            (r for r in new_rows if r.aggregate_id == agg),
            key=lambda r: r.aggregate_version,
        )
        assert [r.id for r in srows] == sorted(r.id for r in srows)


def test_vacuum_all_dropped_keeps_store_readable(new_store, tmp_path):
    """n_keep == 0 path: vacuuming a store whose every generation is
    invalidated must not crash on read-back schema inference, must not
    leak the tmp dir, and must leave an empty-but-readable store."""
    import glob

    from eventsourcing_spark.maintenance import vacuum_migrated

    store = new_store(str(tmp_path / "vz"), n_buckets=4)
    store.append(
        "acc-z", "Account", [(KIND_CREATED, {"money": 1, "owner": "A B"})],
        expected_version=0, created_at=T0,
    )
    # invalidate EVERY row by hand (simulates an aborted migration whose
    # new generation was already vacuumed): migration=1 on all rows
    pin = store._pin("events")
    store._rewrite_table(
        "events",
        store._scan("events", pin).withColumn("migration", F.lit(1)),
        pin,
    )

    stats = vacuum_migrated(store)
    assert stats["rows_after"] == 0 and stats["rows_dropped"] == 1
    assert store.events_raw().count() == 0  # readable empty store
    assert not glob.glob(str(tmp_path / "vz/events.*"))  # no tmp/old leak
    assert not glob.glob(str(tmp_path / "vz/events/_staging-*"))
    # still appendable after the wipe
    store.append(
        "acc-z2", "Account", [(KIND_CREATED, {"money": 2, "owner": "C"})],
        expected_version=0, created_at=T1,
    )
    assert store.events().count() == 1


def test_upcaster_chain_reads_old_bodies(spark):
    """X9 — upcasters let new readers consume pre-migration events
    (encoding/jsoncodec/codec.go:68-77)."""
    codec = JsonCodec()
    codec.register_upcaster(
        KIND_CREATED,
        lambda kind, body: (
            KIND_CREATED + "_V2",
            {"money": body["money"], "owner": split_owner(body["owner"])},
        ),
    )
    kind, body = codec.decode(KIND_CREATED, b'{"money":100,"owner":"Paulo Pereira"}')
    assert kind == "AccountCreated_V2"
    assert body == {"money": 100, "owner": {"firstName": "Paulo", "lastName": "Pereira"}}
    # fixpoint: already-upcasted kinds pass through
    kind2, body2 = codec.decode(kind, json.dumps(body).encode())
    assert (kind2, body2) == (kind, body)


def test_compaction_preserves_data_and_reduces_files(new_store, tmp_path):
    store = new_store(str(tmp_path / "cp"), n_buckets=4)
    for i in range(20):
        store.append(
            f"acc-{i}", "Account",
            [(KIND_CREATED, {"money": i, "owner": "x"})],
            expected_version=0, created_at=T0 + timedelta(seconds=i),
        )
    before = {(r.id, r.aggregate_id) for r in store.events().collect()}
    import glob
    n_files_before = len(glob.glob(str(tmp_path / "cp/events/**/*.parquet"), recursive=True))
    compact_events(store)
    after = {(r.id, r.aggregate_id) for r in store.events().collect()}
    vacuum_store(store, grace_seconds=0)  # the superseded files stay until then
    n_files_after = len(glob.glob(str(tmp_path / "cp/events/**/*.parquet"), recursive=True))
    assert before == after
    assert n_files_after <= 4 < n_files_before


def test_compaction_small_files(new_store, tmp_path):
    """File-per-append layout → compaction: file count collapses, rows
    and the active view survive bit-exact, and the store stays writable
    with optimistic concurrency intact."""
    from eventsourcing_spark.maintenance.compaction import compact_events

    store = new_store(str(tmp_path / "cp"), n_buckets=4)
    # 12 appends → 12 parquet files across 4 bucket dirs
    for i in range(12):
        store.append(
            f"acc-{i}", "Account",
            [(KIND_CREATED, {"money": 100 + i}), (KIND_DEPOSITED, {"money": i})],
            expected_version=0, created_at=T0,
        )
    before_rows = store.events().orderBy("id").collect()
    files_before = sum(len(h.files) for h in store._pin("events").values())
    assert files_before == 12

    stats = compact_events(store)
    assert stats["files_before"] == 12
    assert stats["files_after"] < 12
    assert stats["rows"] == 24

    after_rows = store.events().orderBy("id").collect()
    assert [tuple(r) for r in after_rows] == [tuple(r) for r in before_rows]

    # still appendable; conflict detection still sees compacted versions
    store.append(
        "acc-0", "Account", [(KIND_DEPOSITED, {"money": 7})],
        expected_version=2, created_at=T1,
    )
    assert store.events().filter(F.col("aggregate_id") == "acc-0").count() == 3
    import pytest as _pytest

    from eventsourcing_spark.store.event_store import ConcurrentModificationError
    with _pytest.raises(ConcurrentModificationError):
        store.append(
            "acc-1", "Account", [(KIND_DEPOSITED, {"money": 1})],
            expected_version=1, created_at=T1,
        )


def test_compaction_empty_store_noop(new_store, tmp_path):
    from eventsourcing_spark.maintenance.compaction import compact_events

    store = new_store(str(tmp_path / "empty"))
    stats = compact_events(store)
    assert stats == {"files_before": 0, "files_after": 0, "bytes": 0, "rows": 0}


def test_vacuum_drops_invalidated_generations(new_store, tmp_path):
    """M2 then vacuum: the superseded generation disappears physically,
    the active view is unchanged, and keep_revisions retains history."""
    from eventsourcing_spark.maintenance import vacuum_migrated

    store = new_store(str(tmp_path / "vac"), n_buckets=4)
    store.append(
        "acc-v", "Account",
        [(KIND_CREATED, {"money": 100, "owner": "A B"}),
         (KIND_DEPOSITED, {"money": 10})],
        expected_version=0, created_at=T0,
    )
    migrate_in_place(
        store, revision=1, aggregate_kind="Account",
        target_kinds=(KIND_CREATED,), handler=migration_handler,
        new_aggregate_kind="Account_V2", now=T1,
    )
    assert store.events_raw().count() == 5  # 2 old + guard + 2 new
    active_before = {(r.id, r.kind) for r in store.events().collect()}

    # retention keeps rev 1 → no-op
    stats = vacuum_migrated(store, keep_revisions=1)
    assert stats["rows_dropped"] == 0 and store.events_raw().count() == 5

    stats = vacuum_migrated(store)
    assert stats == {
        "rows_before": 5, "rows_after": 3, "rows_dropped": 2,
        "files_before": stats["files_before"],
        "files_after": stats["files_after"],
    }
    assert store.events_raw().count() == 3
    assert {(r.id, r.kind) for r in store.events().collect()} == active_before

    # idempotent: second vacuum reclaims nothing
    assert vacuum_migrated(store)["rows_dropped"] == 0


class _WriterInsideRewrite(threading.Thread):
    """Runs ``write(store)`` on a thread started from inside a maintenance
    operator: at its first parquet write under the events directory, i.e.
    after the operator read the bucket heads its frame is built from. The
    write then gets up to 2 s to finish before the operator's write
    proceeds, so it commits before the rewrite's bucket commits."""

    def __init__(self, monkeypatch, store, write):
        super().__init__(daemon=True)
        self.store, self.write = store, write
        self.result, self.error = None, None
        real = DataFrameWriter.parquet

        def parquet(writer, path, *args, **kwargs):
            if self.ident is None and path.startswith(store._events_dir):
                self.start()
                self.join(timeout=2.0)
            return real(writer, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)

    def run(self):
        try:
            self.result = self.write(self.store)
        except Exception as e:  # noqa: BLE001 — asserted by the test
            self.error = e

    def outcome(self):
        assert self.ident is not None, "the operator never wrote the table"
        self.join(timeout=60)
        assert not self.is_alive(), "append still running after the rewrite"
        return self.result, self.error


def _seed_account(store):
    store.append(
        "acc-m", "Account",
        [(KIND_CREATED, {"money": 100, "owner": "Paulo Pereira"}),
         (KIND_OWNER_UPDATED, {"owner": "Paulo Quintans"})],
        expected_version=0, created_at=T0,
    )


_OPERATORS = {
    "compact": compact_events,
    "forget": lambda store: forget(
        store, "acc-m", kinds=(KIND_OWNER_UPDATED,),
        event_scrubber=lambda kind, body: {**body, "owner": ""},
    ),
    "migrate": lambda store: migrate_in_place(
        store, revision=1, aggregate_kind="Account",
        target_kinds=(KIND_CREATED,), handler=migration_handler, now=T1,
    ),
}


@pytest.mark.parametrize("op", sorted(_OPERATORS))
def test_appends_during_rewrite_survive(new_store, tmp_path, monkeypatch, op):
    """Every append that returns while a maintenance operator rewrites the
    events table is in the table afterwards (the reference's rewrites are
    SQL transactions, store/postgresql/store.go:446-495)."""
    store = new_store(str(tmp_path / op), n_buckets=4)
    _seed_account(store)

    def write(store):
        return [
            store.append(
                f"fresh-{i}", "Wallet", [(KIND_DEPOSITED, {"money": i})],
                expected_version=0, created_at=T1,
            )[0]
            for i in range(3)
        ]

    writer = _WriterInsideRewrite(monkeypatch, store, write)
    _OPERATORS[op](store)
    appended, error = writer.outcome()
    assert error is None
    ids = {r.id for r in store.events().collect()}
    assert set(appended) <= ids, f"{len(set(appended) - ids)} appends lost"


def test_migration_guard_rejects_concurrent_stale_append(
    new_store, tmp_path, monkeypatch
):
    """A writer that read the stream before the migration appends at the
    pre-migration ``expected_version``; first committer wins per stream,
    as the reference's unique index decides (events_migration.go:96-110).

    * The stale append commits first (while the migration stages its
      rewrite): the migration's bucket commit raises, and the stream's
      active versions stay unique.
    * The migration commits first: the stale append collides with the
      Invalidated guard's version."""
    from eventsourcing_spark.store.event_store import ConcurrentModificationError

    def stale_append(store):
        return store.append(
            "acc-m", "Account", [(KIND_DEPOSITED, {"money": 5})],
            expected_version=2, created_at=T1,
        )

    def versions(store):
        return [
            (r.aggregate_version, r.kind)
            for r in store.events().filter(F.col("aggregate_id") == "acc-m")
            .orderBy("aggregate_version").collect()
        ]

    store = new_store(tmp_path / "append-first", n_buckets=4)
    _seed_account(store)
    writer = _WriterInsideRewrite(monkeypatch, store, stale_append)
    with pytest.raises(ConcurrentModificationError):
        _OPERATORS["migrate"](store)
    _, error = writer.outcome()
    assert error is None
    assert versions(store) == [
        (1, KIND_CREATED), (2, KIND_OWNER_UPDATED), (3, KIND_DEPOSITED)
    ]
    monkeypatch.undo()

    store = new_store(tmp_path / "migration-first", n_buckets=4)
    _seed_account(store)
    assert _OPERATORS["migrate"](store) == 1
    with pytest.raises(ConcurrentModificationError):
        stale_append(store)
    assert versions(store) == [
        (3, KIND_INVALIDATED),
        (4, KIND_CREATED + "_V2"),
        (5, KIND_OWNER_UPDATED + "_V2"),
    ]


def test_rewrite_verification_mismatch_leaves_table_untouched(
    new_store, tmp_path, monkeypatch
):
    """A rewrite whose read-back disagrees with its frame raises, publishes
    no log version, removes its staged files and keeps the old table."""
    import glob

    from eventsourcing_spark.store import event_store

    store = new_store(tmp_path / "vf", n_buckets=4)
    _seed_account(store)
    before = sorted(tuple(r) for r in store.events().collect())
    heads = store._pin("events")
    files = sorted(glob.glob(str(tmp_path / "vf/events/**"), recursive=True))
    real = event_store._fingerprint
    calls = []

    def skewed(df):
        calls.append(df)
        n, fp = real(df)
        return (n, fp + 1) if len(calls) == 2 else (n, fp)  # 2nd = read-back

    monkeypatch.setattr(event_store, "_fingerprint", skewed)
    with pytest.raises(RuntimeError, match="verification failed"):
        _OPERATORS["forget"](store)
    assert store._pin("events") == heads
    assert sorted(glob.glob(str(tmp_path / "vf/events/**"), recursive=True)) == files
    assert sorted(tuple(r) for r in store.events().collect()) == before


def test_bulk_import_during_rewrite_survives(spark, new_store, tmp_path, monkeypatch):
    """A ``bulk_import`` that commits while compaction rewrites the table
    keeps all its rows: it commits to the bucket logs like an append, and
    the rewrite's bucket commits merge it."""
    store = new_store(tmp_path / "bulk", n_buckets=4)
    _seed_account(store)
    batch = spark.createDataFrame(
        [(f"bulk-{i}", "Wallet", KIND_DEPOSITED, json.dumps({"money": i}), T1, 1)
         for i in range(5)],
        "aggregate_id string, aggregate_kind string, kind string, body string, "
        "created_at timestamp, aggregate_version int",
    )
    writer = _WriterInsideRewrite(
        monkeypatch, store, lambda store: store.bulk_import(batch)
    )
    compact_events(store)
    _, error = writer.outcome()
    assert error is None
    ids = {r.aggregate_id for r in store.events().collect()}
    assert ids == {"acc-m"} | {f"bulk-{i}" for i in range(5)}


def test_point_reads_during_rewrite_publish(new_store, tmp_path, monkeypatch):
    """``read_aggregate_events`` and ``Repository.retrieve`` made at every
    file move or delete of a compaction's publish step return the whole
    stream, never ``[]`` or version 0."""
    import os

    from eventsourcing_spark.store.repository import Repository

    from tests.account import HANDLERS, init_state

    store = new_store(tmp_path / "pub", n_buckets=4)
    _seed_account(store)
    repo = Repository(store, "Account", HANDLERS, init_state)
    seen, busy = [], []

    def probing(real):
        def op(*args, **kwargs):
            out = real(*args, **kwargs)
            if not busy:  # no probe from inside a probe
                busy.append(True)
                try:
                    seen.append((
                        len(store.read_aggregate_events("acc-m")),
                        repo.retrieve("acc-m").version,
                    ))
                finally:
                    busy.clear()
            return out
        return op

    for name in ("rename", "replace", "remove"):
        monkeypatch.setattr(os, name, probing(getattr(os, name)))
    compact_events(store)
    monkeypatch.undo()
    assert seen and set(seen) == {(2, 2)}, seen


def test_rewrite_stress_many_writers(new_store, tmp_path):
    """Six writer threads (more than this suite's cores) append fresh
    streams with a shortened switch interval for as long as compaction
    runs; every append that returned is in the table afterwards."""
    import sys

    store = new_store(str(tmp_path / "stress"), n_buckets=4)
    _seed_account(store)
    done = threading.Event()
    appended, errors = [], []

    def writer(w):
        i = 0
        while not done.is_set():
            try:
                appended.append(store.append(
                    f"w{w}-{i}", "Wallet", [(KIND_DEPOSITED, {"money": i})],
                    expected_version=0, created_at=T1,
                )[0])
            except Exception as e:  # noqa: BLE001 — asserted below
                errors.append(e)
                return
            i += 1

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(6)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        compact_events(store)
    finally:
        done.set()
        for t in threads:
            t.join(timeout=60)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    ids = {r.id for r in store.events().collect()}
    assert appended and set(appended) <= ids, f"{len(set(appended) - ids)} lost"
