"""Conformance tests — the reference backend suite re-expressed on Spark
(test/pg/store_test.go scenarios; goldens from FIXTURES.md §7).
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from eventsourcing_spark.functions.hashing import fnv1a_32_py
from eventsourcing_spark.maintenance import forget, migrate_in_place
from eventsourcing_spark.operators.rehydrate import rehydrate_all
from eventsourcing_spark.store import ConcurrentModificationError, EventStore, Filter

from tests.account import (
    HANDLERS,
    KIND_CREATED,
    KIND_DEPOSITED,
    account_states_sql,
    init_state,
)

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


@pytest.fixture()
def store(new_store, tmp_path):
    return new_store(str(tmp_path / "es"), snapshot_threshold=3)


def seed_golden_account(store: EventStore, agg_id: str = "acc-1") -> None:
    """TestSaveAndGet fixture (test/pg/store_test.go:68-141): create 100,
    deposits 10+20 → snapshot at v3 (balance 130), deposits 5+1 → 136."""
    last_id, v = store.append(
        agg_id,
        "Account",
        [
            (KIND_CREATED, {"money": 100, "owner": "Paulo"}),
            (KIND_DEPOSITED, {"money": 10}),
            (KIND_DEPOSITED, {"money": 20}),
        ],
        expected_version=0,
        created_at=T0,
    )
    assert v == 3
    store.save_snapshot(
        last_id, agg_id, 3, "Account",
        {"status": "OPEN", "balance": 130, "owner": "Paulo"}, created_at=T0,
    )
    store.append(
        agg_id,
        "Account",
        [(KIND_DEPOSITED, {"money": 5}), (KIND_DEPOSITED, {"money": 1})],
        expected_version=3,
        created_at=T0,
    )


def test_save_and_get_golden(store):
    seed_golden_account(store)
    rows = store.events().orderBy("aggregate_version").collect()
    assert [r.aggregate_version for r in rows] == [1, 2, 3, 4, 5]
    assert [r.kind for r in rows] == [KIND_CREATED] + [KIND_DEPOSITED] * 4
    # ids strictly increasing and consistent with version order
    ids = [r.id for r in rows]
    assert ids == sorted(ids) and len(set(ids)) == 5
    assert all(r.aggregate_id_hash == fnv1a_32_py("acc-1") for r in rows)

    snap = store.get_snapshot("acc-1").collect()
    assert len(snap) == 1
    assert json.loads(bytes(snap[0].body)) == {
        "status": "OPEN", "balance": 130, "owner": "Paulo",
    }

    # rehydrate with snapshot seed: folds only v4..v5 → balance 136
    out = rehydrate_all(
        store.events(), HANDLERS, init_state, snapshots=store.snapshots()
    ).collect()
    assert len(out) == 1
    assert out[0].aggregate_version == 5
    assert json.loads(out[0].state) == {
        "status": "OPEN", "balance": 136, "owner": "Paulo",
    }

    # rehydrate from scratch agrees
    out2 = rehydrate_all(store.events(), HANDLERS, init_state).collect()
    assert json.loads(out2[0].state)["balance"] == 136


def test_optimistic_concurrency(store):
    seed_golden_account(store)
    with pytest.raises(ConcurrentModificationError):
        store.append(
            "acc-1", "Account",
            [(KIND_DEPOSITED, {"money": 99})],
            expected_version=3,  # v4 already exists
            created_at=T0,
        )
    # non-conflicting append proceeds
    _, v = store.append(
        "acc-1", "Account", [(KIND_DEPOSITED, {"money": 4})],
        expected_version=5, created_at=T0,
    )
    assert v == 6


def test_snapshot_only_stream_rehydrates(store):
    store.save_snapshot(
        "01J00000000000000000000000", "acc-snap", 3, "Account",
        {"status": "OPEN", "balance": 42, "owner": "Ana"}, created_at=T0,
    )
    out = rehydrate_all(
        store.events(), HANDLERS, init_state, snapshots=store.snapshots()
    ).collect()
    by_id = {r.aggregate_id: r for r in out}
    assert json.loads(by_id["acc-snap"].state)["balance"] == 42
    assert by_id["acc-snap"].aggregate_version == 3


def test_sql_fold_matches_generic_fold(store):
    seed_golden_account(store, "acc-1")
    store.append(
        "acc-2", "Account",
        [
            (KIND_CREATED, {"money": 50, "owner": "Maria"}),
            ("MoneyWithdrawn", {"money": 20}),
            ("OwnerUpdated", {"owner": "Maria Q."}),
        ],
        expected_version=0,
        created_at=T0,
    )
    sql_rows = {
        r.aggregate_id: r for r in account_states_sql(store.events()).collect()
    }
    gen_rows = {
        r.aggregate_id: json.loads(r.state)
        for r in rehydrate_all(store.events(), HANDLERS, init_state).collect()
    }
    assert set(sql_rows) == set(gen_rows) == {"acc-1", "acc-2"}
    for agg_id in sql_rows:
        assert sql_rows[agg_id].balance == gen_rows[agg_id]["balance"], agg_id
        assert sql_rows[agg_id].owner == gen_rows[agg_id]["owner"], agg_id
    assert sql_rows["acc-2"].balance == 30
    assert sql_rows["acc-2"].owner == "Maria Q."


def test_filters_and_range_scan(store):
    # two tenants (TestListenerWithDiscriminator, test/pg/store_test.go:286-371)
    store.append(
        "t-abc", "Account",
        [(KIND_CREATED, {"money": 100, "owner": "A"}),
         (KIND_DEPOSITED, {"money": 10})],
        expected_version=0, discriminator={"tenant": "abc"}, created_at=T0,
    )
    store.append(
        "t-xyz", "Account",
        [(KIND_CREATED, {"money": 100, "owner": "X"}),
         (KIND_DEPOSITED, {"money": 10}),
         (KIND_DEPOSITED, {"money": 20}),
         (KIND_DEPOSITED, {"money": 5})],
        expected_version=0, discriminator={"tenant": "xyz"}, created_at=T0,
    )
    store.append(
        "other-kind", "Wallet",
        [(KIND_CREATED, {"money": 1, "owner": "W"})],
        expected_version=0, created_at=T0,
    )

    # F2 discriminator
    xyz = store.get_events(filter=Filter(discriminator={"tenant": ("xyz",)}))
    assert xyz.count() == 4
    assert {r.aggregate_id for r in xyz.collect()} == {"t-xyz"}

    # F1 kinds
    wallets = store.get_events(filter=Filter(aggregate_kinds=("Wallet",)))
    assert wallets.count() == 1

    # F3 splits: partition events by hash mod 2 — the two split scans tile
    all_ids = {r.id for r in store.get_events().collect()}
    s0 = {r.id for r in store.get_events(filter=Filter(splits=2, split_ids=(0,))).collect()}
    s1 = {r.id for r in store.get_events(filter=Filter(splits=2, split_ids=(1,))).collect()}
    assert s0 | s1 == all_ids and not (s0 & s1)

    # S3 keyset pagination: two batches tile the stream in id order
    ordered = sorted(all_ids)
    b1 = [r.id for r in store.get_events(batch_size=4).collect()]
    assert b1 == ordered[:4]
    b2 = [r.id for r in store.get_events(after=b1[-1], batch_size=10).collect()]
    assert b2 == ordered[4:]

    # S4 point-set
    assert store.get_events_by_ids(ordered[:2]).count() == 2

    # S2 by-stream with version offset
    tail = store.get_aggregate_events("t-xyz", gt_version=2).collect()
    assert [r.aggregate_version for r in tail] == [3, 4]

    # A5 distinct streams of a kind
    assert {
        r.aggregate_id for r in store.distinct_aggregates("Account").collect()
    } == {"t-abc", "t-xyz"}


def test_allowed_discriminator_keys(new_store, tmp_path):
    store = new_store(tmp_path / "es2", allowed_discriminator_keys=("tenant",))
    store.append(
        "a1", "Account", [(KIND_CREATED, {"money": 1, "owner": "O"})],
        expected_version=0,
        discriminator={"tenant": "abc", "geo": "EU"},  # geo not allowed → dropped
        created_at=T0,
    )
    row = store.events().first()
    assert dict(row.discriminator) == {"tenant": "abc"}


def test_bucket_pruning_matches_full_scan(new_store, tmp_path):
    """S2/S3 bucket pruning is an access path, never a semantics change."""
    from datetime import datetime, timezone

    from eventsourcing_spark.store import Filter

    store = new_store(str(tmp_path / "prune"), n_buckets=8)
    t0 = datetime(2024, 3, 1, tzinfo=timezone.utc)
    for i in range(12):
        store.append(
            f"agg-{i}", "Account",
            [("AccountCreated", {"money": i, "owner": "x"})],
            expected_version=0, created_at=t0,
        )
    # single-stream read scans only the files of the stream's bucket
    s2 = store.get_aggregate_events("agg-3")
    bucket_dir = f"/events/bucket={fnv1a_32_py('agg-3') % 8}/"
    assert s2.inputFiles() and all(bucket_dir in f for f in s2.inputFiles())
    assert s2.count() == 1
    # split-filtered scan: pruned result == row-predicate result
    f = Filter(splits=4, split_ids=(0, 2))
    pruned = [r.id for r in store.get_events(filter=f).collect()]
    full = [
        r.id
        for r in store.events().filter(f.predicate()).orderBy("id").collect()
    ]
    assert pruned == full and len(pruned) > 0
    # non-dividing split grid falls back to the row predicate (still right)
    f3 = Filter(splits=3, split_ids=(1,))
    assert (
        store.get_events(filter=f3).count()
        == store.events().filter(f3.predicate()).count()
    )


def test_driver_side_reads_match_views_across_writers(spark, new_store, tmp_path):
    """``read_aggregate_events`` / ``read_snapshot`` return exactly what the
    S2 / S5 DataFrame views return, over bucket and snapshot directories
    holding files of every writer: ``bulk_import`` (Spark), ``append`` and
    ``save_snapshot`` (pyarrow), and the ``forget`` / ``migrate_in_place``
    rewrites (Spark, leaving ``migration > 0`` generations)."""
    store = new_store(str(tmp_path / "mixed"), n_buckets=2)
    tenant = {"tenant": "abc"}
    imported = spark.createDataFrame(
        [
            (agg, "Account", kind, json.dumps(body), T0 + timedelta(seconds=v),
             v, disc)
            for agg, disc, last in (
                ("m-a", tenant, KIND_DEPOSITED),
                ("m-b", None, KIND_DEPOSITED),
                ("m-c", tenant, "OwnerUpdated"),
            )
            for v, (kind, body) in enumerate(
                [(KIND_CREATED, {"money": 10, "owner": "Ann Lee"}),
                 (KIND_DEPOSITED, {"money": 1}),
                 (last, {"money": 2, "owner": "Ann B Lee"})],
                start=1,
            )
        ],
        "aggregate_id string, aggregate_kind string, kind string, body string, "
        "created_at timestamp, aggregate_version int, "
        "discriminator map<string,string>",
    )
    store.bulk_import(imported)

    def deposit(agg, version, disc, seconds, snapshot=False):
        last_id, v = store.append(
            agg, "Account", [(KIND_DEPOSITED, {"money": seconds})],
            expected_version=version, discriminator=disc,
            created_at=T0 + timedelta(seconds=seconds),
        )
        if snapshot:
            store.save_snapshot(
                last_id, agg, v, "Account", {"balance": seconds},
                discriminator=disc, created_at=T0,
            )
        return v

    v_a = deposit("m-a", 3, tenant, 10, snapshot=True)
    v_b = deposit("m-b", 3, None, 11, snapshot=True)
    forget(
        store, "m-a", kinds=(KIND_CREATED,),
        event_scrubber=lambda kind, body: {**body, "owner": ""},
    )
    deposit("m-a", v_a, tenant, 12, snapshot=True)
    deposit("m-b", v_b, None, 13, snapshot=True)
    # only m-c migrates: v1-3 become migration=1, v4 Invalidated, v5-7 _V2
    assert migrate_in_place(
        store, 1, "Account", ("OwnerUpdated",),
        lambda evs: [(k + "_V2" if k == "OwnerUpdated" else k, b) for k, b in evs],
        now=T0 + timedelta(hours=1),
    ) == 1
    deposit("m-c", 7, tenant, 14, snapshot=True)
    deposit("m-c", 8, tenant, 15, snapshot=True)

    assert store.events_raw().filter(F.col("migration") > 0).count() == 3
    assert store.events().filter(F.col("aggregate_id") == "m-c").count() == 6
    # every stream now has two snapshots: S5 must pick the latest
    assert sorted(
        r.aggregate_id for r in store.snapshots().select("aggregate_id").collect()
    ) == ["m-a", "m-a", "m-b", "m-b", "m-c", "m-c"]

    def cols(rows, kind_col):
        return [
            (r["id"], r["aggregate_version"], r[kind_col], bytes(r["body"]))
            for r in rows
        ]

    compared = 0
    for agg in ("m-a", "m-b", "m-c", "m-missing"):
        for disc in (None, tenant, {"tenant": "zzz"}):
            snap_view = cols(
                [r.asDict() for r in store.get_snapshot(agg, disc).collect()],
                "aggregate_kind",
            )
            snap = store.read_snapshot(agg, disc)
            assert cols([snap] if snap else [], "aggregate_kind") == snap_view
            for gt in (0, 2):
                view = store.get_aggregate_events(agg, gt, disc).collect()
                got = store.read_aggregate_events(agg, gt, disc)
                assert cols(got, "kind") == cols([r.asDict() for r in view], "kind"), (
                    agg, disc, gt,
                )
                compared += len(got)
    assert compared > 0


def test_point_read_opens_the_same_files_at_10_and_2000_per_bucket(
    spark, new_store, tmp_path, monkeypatch
):
    """A point read opens the files its bucket head says can hold the
    stream — its own appends and Spark-written files — so the count does
    not grow with other streams' appends to the bucket (counted with a
    spy on ``pyarrow.dataset.dataset``)."""
    import pyarrow.dataset as ds

    store = new_store(tmp_path / "files", n_buckets=1)
    store.bulk_import(spark.createDataFrame(
        [("bulk-1", "Account", KIND_CREATED, '{"money":1,"owner":"B"}', T0, 1)],
        "aggregate_id string, aggregate_kind string, kind string, body string, "
        "created_at timestamp, aggregate_version int",
    ))
    for v in range(2):
        store.append("target", "Account", [(KIND_DEPOSITED, {"money": v})],
                     expected_version=v, created_at=T0)
    opened = []
    real = ds.dataset

    def spy(source, *args, **kwargs):
        opened.append(len(source))
        return real(source, *args, **kwargs)

    monkeypatch.setattr(ds, "dataset", spy)
    counts = {}
    for total in (10, 2000):
        n = sum(len(h.files) for h in store._pin("events").values())
        for i in range(n, total):
            store.append(f"other-{i}", "Account", [(KIND_CREATED, {"money": i})],
                         expected_version=0, created_at=T0)
        assert sum(len(h.files) for h in store._pin("events").values()) == total
        opened.clear()
        assert len(store.read_aggregate_events("target")) == 2
        counts[total] = sum(opened)
    assert counts[10] == counts[2000] == 3  # two appends + the bulk file


def test_store_refuses_data_without_its_log(spark, new_store, tmp_path):
    """A directory holding table data opens only with the log that
    describes it, and only with the bucket count it was created with."""
    from eventsourcing_spark.cas import MemoryCasBackend

    store = new_store(tmp_path / "s", n_buckets=2)
    store.append("a", "Account", [(KIND_CREATED, {"money": 1})],
                 expected_version=0, created_at=T0)
    with pytest.raises(ValueError, match="no commit log"):
        EventStore(spark, str(tmp_path / "s"), backend=MemoryCasBackend())
    with pytest.raises(ValueError, match="created with"):
        EventStore(spark, str(tmp_path / "s"), n_buckets=4, backend=store.backend)
    again = EventStore(spark, str(tmp_path / "s"), n_buckets=2, backend=store.backend)
    assert [r["aggregate_version"] for r in again.read_aggregate_events("a")] == [1]


def test_reads_find_a_commit_right_after_its_put(new_store, tmp_path, monkeypatch):
    """An append's file is at its final path before its commit. A
    driver-side read, a Spark view and the next append's conflict check
    made right after the commit's ``put_if_absent`` all find it."""
    store = new_store(tmp_path / "put", n_buckets=2)
    store.append("a", "Account", [(KIND_CREATED, {"money": 1, "owner": "O"})],
                 expected_version=0, created_at=T0)
    seen = []
    real = store.backend.put_if_absent

    def put(key, data):
        version = real(key, data)
        if key.startswith("events/") and version is not None and not seen:
            seen.append([r["aggregate_version"] for r in store.read_aggregate_events("a")])
            seen.append(sorted(
                r.aggregate_version for r in store.get_aggregate_events("a").collect()
            ))
            with pytest.raises(ConcurrentModificationError):
                store.append("a", "Account", [(KIND_DEPOSITED, {"money": 3})],
                             expected_version=1, created_at=T0)
        return version

    monkeypatch.setattr(store.backend, "put_if_absent", put)
    store.append("a", "Account", [(KIND_DEPOSITED, {"money": 2})],
                 expected_version=1, created_at=T0)
    assert seen == [[1, 2], [1, 2]]
    assert [r["aggregate_version"] for r in store.read_aggregate_events("a")] == [1, 2]
