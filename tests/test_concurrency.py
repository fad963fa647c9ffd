"""Concurrent-writer semantics for S1 (optimistic concurrency under real
parallelism — the reference's unique-index guarantee)."""

from __future__ import annotations

import json
import threading
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

from eventsourcing_spark.cas import MemoryCasBackend
from eventsourcing_spark.functions.hashing import fnv1a_32_py
from eventsourcing_spark.store import ConcurrentModificationError, EventStore

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


def test_racing_writers_one_wins(new_store, tmp_path):
    store = new_store(str(tmp_path / "race"))
    store.append(
        "acc-x", "Account",
        [("AccountCreated", {"money": 1, "owner": "O"})],
        expected_version=0, created_at=T0,
    )

    def write(i):
        try:
            store.append(
                "acc-x", "Account",
                [("MoneyDeposited", {"money": i})],
                expected_version=1,  # every racer targets v2
                created_at=T0,
            )
            return "ok"
        except ConcurrentModificationError:
            return "conflict"

    with ThreadPoolExecutor(8) as ex:
        results = list(ex.map(write, range(8)))
    assert results.count("ok") == 1
    assert results.count("conflict") == 7
    # exactly one v2 row exists
    rows = store.events().filter("aggregate_version = 2").collect()
    assert len(rows) == 1


def test_parallel_writers_different_streams(new_store, tmp_path):
    store = new_store(str(tmp_path / "par"))

    def write(i):
        store.append(
            f"acc-{i}", "Account",
            [("AccountCreated", {"money": i, "owner": "O"})],
            expected_version=0, created_at=T0,
        )
        return i

    with ThreadPoolExecutor(8) as ex:
        done = list(ex.map(write, range(16)))
    assert len(done) == 16
    assert store.events().count() == 16
    # versions all 1, unique aggregate set
    assert store.events().select("aggregate_id").distinct().count() == 16


def test_failed_append_leaves_stream_writable(new_store, tmp_path):
    store = new_store(str(tmp_path / "rel"))
    store.append("a", "Account", [("AccountCreated", {"money": 1, "owner": "x"})],
                 expected_version=0, created_at=T0)
    try:
        store.append("a", "Account", [("AccountCreated", {"money": 1, "owner": "x"})],
                     expected_version=0, created_at=T0)
    except ConcurrentModificationError:
        pass
    # the rejected append leaves nothing behind: the next one commits
    _, v = store.append("a", "Account", [("MoneyDeposited", {"money": 2})],
                        expected_version=1, created_at=T0)
    assert v == 2


def test_writers_on_distinct_buckets_commit_with_overlap(spark, tmp_path):
    """Writer A is held inside its commit, at its ``put_if_absent``, until
    writer B has committed an append to another bucket. No lock spans
    buckets, so B goes through; a global commit lock would deadlock here
    (A's wait would time out)."""
    backend = MemoryCasBackend()
    store = EventStore(spark, str(tmp_path / "overlap"), n_buckets=4, backend=backend)
    ids = [f"acc-{i}" for i in range(20)]
    agg_a = ids[0]
    agg_b = next(i for i in ids if fnv1a_32_py(i) % 4 != fnv1a_32_py(agg_a) % 4)
    a_inside, b_done, waited = threading.Event(), threading.Event(), []

    def hold_a(op, key):
        if op == "put_if_absent" and threading.current_thread().name == "writer-a":
            a_inside.set()
            waited.append(b_done.wait(timeout=20))

    def append(agg):
        store.append(
            agg, "Account", [("AccountCreated", {"money": 1, "owner": "O"})],
            expected_version=0, created_at=T0,
        )

    backend.on_op = hold_a
    writer_a = threading.Thread(target=append, args=(agg_a,), name="writer-a")
    writer_a.start()
    assert a_inside.wait(timeout=20)
    append(agg_b)
    b_done.set()
    writer_a.join(timeout=30)
    assert waited == [True]
    assert {r.aggregate_id for r in store.events().collect()} == {agg_a, agg_b}


def test_append_that_loses_its_race_never_reaches_the_file_stream(spark, tmp_path):
    """Writer A is held at its ``put_if_absent`` while writer B commits the
    same version of the same stream, so A's retried conflict check fails.
    An availableNow ``events_file_stream`` run while A is held, and one
    run after A raised, both read B's event only: an append's file joins
    its bucket directory only once its commit has published."""
    from eventsourcing_spark.projection.projector import events_file_stream

    backend = MemoryCasBackend()
    store = EventStore(spark, str(tmp_path / "lost"), n_buckets=4, backend=backend)
    store.append(
        "acc-r", "Account", [("AccountCreated", {"money": 1, "owner": "O"})],
        expected_version=0, created_at=T0,
    )
    a_inside, release, outcome = threading.Event(), threading.Event(), []

    def hold_a(op, key):
        if op == "put_if_absent" and threading.current_thread().name == "writer-a":
            a_inside.set()
            release.wait(timeout=60)

    def writer_a():
        try:
            store.append(
                "acc-r", "Account", [("MoneyDeposited", {"money": 666})],
                expected_version=1, created_at=T0,
            )
            outcome.append("ok")
        except ConcurrentModificationError:
            outcome.append("conflict")

    def streamed(checkpoint):
        out: list = []
        q = (
            events_file_stream(store)
            .writeStream.foreachBatch(
                lambda df, _e: out.extend(df.select("aggregate_version", "body").collect())
            )
            .option("checkpointLocation", str(tmp_path / checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(
            (r.aggregate_version, json.loads(bytes(r.body))["money"]) for r in out
        )

    backend.on_op = hold_a
    writer = threading.Thread(target=writer_a, name="writer-a")
    writer.start()
    try:
        assert a_inside.wait(timeout=20)
        store.append(
            "acc-r", "Account", [("MoneyDeposited", {"money": 2})],
            expected_version=1, created_at=T0,
        )
        held = streamed("cp-held")
    finally:
        release.set()
        writer.join(timeout=30)
    assert outcome == ["conflict"]
    assert held == [(1, 1), (2, 2)]
    assert streamed("cp-after") == [(1, 1), (2, 2)]
