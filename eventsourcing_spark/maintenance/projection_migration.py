"""M3 — consistent-projection migration (store/postgresql/projection_migration.go:44-149).

The reference walks distinct aggregates of a kind (A5), flushes each
aggregate's current state into the new read-model table, and appends a
``NoOp`` event to the stream — the version bump makes any concurrent
writer's save collide, guaranteeing the flushed state was current
(NoOp: eventstore.go:123-131). A ``projection_migration`` ledger makes
the whole pass idempotent.

Spark-first, the per-aggregate loop becomes three set-oriented steps:
one fold job for ALL states, one parquet write, one batch NoOp append
generated as a DataFrame (ULIDs minted by the JVM-side ``ulid_random``
expression — no driver loop, no Python in the hot path) through the
store's ``_append_rows_df``, committed bucket by bucket over the heads
the fold read. A stream appended to after that read makes its bucket's
guard commit raise ``ConcurrentModificationError`` (first committer
wins, as the reference's unique index decides); a writer that read a
stream before the flush and appends after the guard collides with the
NoOp's version.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eventsourcing_spark.functions.ulid import ulid_random
from eventsourcing_spark.schema import EVENT_SCHEMA
from eventsourcing_spark.store.event_store import EventStore
from eventsourcing_spark.io import materialize

KIND_NOOP = "NoOp"  # eventstore.go:123-131


def migrate_consistent_projection(
    store: EventStore,
    name: str,
    aggregate_kind: str,
    fold: Callable[[DataFrame], DataFrame],
    out_dir: str,
    now: datetime | None = None,
) -> int:
    """Flush ``fold(events_of_kind)`` into ``out_dir`` and guard every
    stream with a NoOp append. Returns #aggregates migrated; repeat
    calls are no-ops via the ledger."""
    ledger_path = os.path.join(store.base_dir, "projection_migration")
    done_file = os.path.join(ledger_path, f"{name}.json")
    now = now or datetime.now(timezone.utc)
    if os.path.exists(done_file):
        return 0
    pin = store._pin("events")
    events = store._scan("events", pin).filter(
        (F.col("migration") == 0) & (F.col("aggregate_kind") == aggregate_kind)
    )
    events = events.transform(materialize)  # consistent basis for both steps

    # 1) one fold job for all states → the new read-model table
    states = fold(events)
    states.write.mode("overwrite").parquet(out_dir)

    # 2) batch NoOp guard: version = max+1 per stream, ids minted JVM-side
    guards = (
        events.groupBy("aggregate_id")
        .agg(
            F.max("aggregate_version").alias("v"),
            F.first("aggregate_id_hash").alias("aggregate_id_hash"),
            F.first("discriminator").alias("discriminator"),
        )
        .select(
            ulid_random(F.lit(now)).alias("id"),
            "aggregate_id",
            "aggregate_id_hash",
            (F.col("v") + 1).cast("int").alias("aggregate_version"),
            F.lit(aggregate_kind).alias("aggregate_kind"),
            F.lit(KIND_NOOP).alias("kind"),
            F.lit(b"{}").alias("body"),
            F.lit(now.replace(tzinfo=None)).cast("timestamp").alias("created_at"),
            F.lit(0).alias("migration"),
            F.lit(False).alias("migrated"),
            "discriminator",
        )
    )
    guards = guards.select(*[f.name for f in EVENT_SCHEMA.fields])
    n_streams = guards.count()
    if n_streams:
        store._append_rows_df(guards, pin, guards.select("aggregate_id"))

    # 3) ledger entry (projection_migration table analog)
    os.makedirs(ledger_path, exist_ok=True)
    with open(done_file, "w") as fh:
        json.dump(
            {"name": name, "aggregates": n_streams, "at": now.isoformat()}, fh
        )
    return n_streams
