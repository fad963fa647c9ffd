"""Repository (Update/Retrieve lifecycle, §3.1) golden tests."""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone

import pytest

from eventsourcing_spark.store import ConcurrentModificationError, EventStore
from eventsourcing_spark.store.repository import Repository

from tests.account import HANDLERS, KIND_CREATED, KIND_DEPOSITED, init_state

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


@pytest.fixture()
def repo(spark, tmp_path):
    store = EventStore(spark, str(tmp_path / "repo"), snapshot_threshold=3)
    return Repository(store, "Account", HANDLERS, init_state)


def test_update_retrieve_lifecycle(repo):
    """The reference's primary trace (eventstore.go:230-242): create,
    update twice, rehydrate — balance 130 at v3 with auto-snapshot."""
    agg = repo.create(
        "acc-r", [(KIND_CREATED, {"money": 100, "owner": "Paulo"})], created_at=T0
    )
    assert (agg.version, agg.state["balance"]) == (1, 100)

    agg = repo.update(
        "acc-r",
        lambda state: [(KIND_DEPOSITED, {"money": 10})],
        created_at=T0 + timedelta(seconds=1),
    )
    assert (agg.version, agg.state["balance"]) == (2, 110)

    # third event crosses snapshot_threshold=3 → snapshot written
    agg = repo.update(
        "acc-r",
        lambda state: [(KIND_DEPOSITED, {"money": 20})],
        created_at=T0 + timedelta(seconds=2),
    )
    assert (agg.version, agg.state["balance"]) == (3, 130)
    snap = repo.store.get_snapshot("acc-r").collect()
    assert len(snap) == 1
    assert json.loads(bytes(snap[0].body)) == {
        "status": "OPEN", "balance": 130, "owner": "Paulo",
    }
    assert snap[0].aggregate_version == 3

    # retrieve folds snapshot + tail only
    got = repo.retrieve("acc-r")
    assert got.state["balance"] == 130
    assert got.events_since_snapshot == 0

    # conditional mutation sees current state
    agg = repo.update(
        "acc-r",
        lambda state: [(KIND_DEPOSITED, {"money": 1})] if state["balance"] == 130 else [],
        created_at=T0 + timedelta(seconds=3),
    )
    assert agg.state["balance"] == 131


def test_update_conflict_surfaces(repo):
    repo.create("acc-c", [(KIND_CREATED, {"money": 1, "owner": "O"})], created_at=T0)
    with pytest.raises(ConcurrentModificationError):
        repo.create("acc-c", [(KIND_CREATED, {"money": 2, "owner": "X"})], created_at=T0)


def test_no_events_update_is_noop(repo):
    repo.create("acc-n", [(KIND_CREATED, {"money": 9, "owner": "N"})], created_at=T0)
    agg = repo.update("acc-n", lambda state: [], created_at=T0)
    assert agg.version == 1
    assert repo.store.events().count() == 1


def test_discriminator_restricted_on_reads(spark, tmp_path):
    """F4 applies on every read as on every write (store/store.go:195-228):
    a caller's disallowed key must not hide the stream it just created."""
    store = EventStore(
        spark, str(tmp_path / "f4"), snapshot_threshold=3,
        allowed_discriminator_keys=("tenant",),
    )
    repo = Repository(store, "Account", HANDLERS, init_state)
    disc = {"tenant": "abc", "geo": "EU"}
    repo.create(
        "a1", [(KIND_CREATED, {"money": 100, "owner": "O"})],
        discriminator=disc, created_at=T0,
    )
    got = repo.retrieve("a1", disc)
    assert (got.version, got.state["balance"]) == (1, 100)
    for i in range(2):  # the second update reaches the snapshot threshold
        got = repo.update(
            "a1", lambda state: [(KIND_DEPOSITED, {"money": 10})],
            discriminator=disc, created_at=T0 + timedelta(seconds=i + 1),
        )
    assert (got.version, got.state["balance"]) == (3, 120)
    got = repo.retrieve("a1", disc)
    assert (got.version, got.state["balance"], got.events_since_snapshot) == (3, 120, 0)
    # the DataFrame views restrict the same way
    assert store.get_aggregate_events("a1", discriminator=disc).count() == 3
    assert store.get_snapshot("a1", discriminator=disc).count() == 1
    assert store.get_events(discriminator=disc).count() == 3
    # an allowed key that does not match still filters
    assert repo.retrieve("a1", {"tenant": "xyz"}).version == 0


def test_single_key_ops_launch_no_spark_job(repo):
    """create / retrieve / update (crossing the snapshot threshold) are
    driver-side point reads and writes: no Spark job in their group."""
    sc = repo.store.spark.sparkContext
    group = "repository-point-ops"
    sc.setJobGroup(group, "single-key repository ops")
    try:
        repo.create(
            "acc-z", [(KIND_CREATED, {"money": 5, "owner": "Z"})], created_at=T0
        )
        for i in range(2):
            agg = repo.update(
                "acc-z", lambda state: [(KIND_DEPOSITED, {"money": 1})],
                created_at=T0 + timedelta(seconds=i + 1),
            )
        assert agg.events_since_snapshot == 0  # a snapshot was written
        got = repo.retrieve("acc-z")
        assert (got.version, got.state["balance"]) == (3, 7)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        # the probe does see jobs: the DataFrame view runs one in this group
        repo.store.get_snapshot("acc-z").collect()
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
