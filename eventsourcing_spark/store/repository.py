"""Single-aggregate repository — the reference's primary entry point
(eventstore.go:230-242 Update, 249-300 retrieve, 338-403 save).

Same retrieve→mutate→save lifecycle, same snapshot-threshold rule, same
optimistic concurrency as the reference. Every operation here is a
single-key point read or write, and none launches a Spark job: the store
reads the latest snapshot (S5) and the event tail (S2) driver-side from
the stream's bucket directory — the bucket layout plays the role of the
reference's index — and appends the same way. Snapshot seeding keeps the
fold short. The set-oriented paths (``rehydrate_all``, projections)
carry the 100 TB workloads.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime

from eventsourcing_spark.operators.rehydrate import Handler
from eventsourcing_spark.store.codec import JsonCodec
from eventsourcing_spark.store.event_store import EventStore


@dataclass
class Rehydrated:
    state: dict
    version: int
    last_event_id: str
    events_since_snapshot: int  # eventsCounter (eventstore.go:381-400)


class Repository:
    def __init__(
        self,
        store: EventStore,
        aggregate_kind: str,
        handlers: dict[str, Handler],
        init: Callable[[], dict],
        codec: JsonCodec | None = None,
    ):
        self.store = store
        self.aggregate_kind = aggregate_kind
        self.handlers = handlers
        self.init = init
        self.codec = codec

    # -------------------------------------------------------------- retrieve
    def retrieve(
        self, aggregate_id: str, discriminator: dict[str, str] | None = None
    ) -> Rehydrated:
        """S5 snapshot + S2 tail fold (eventstore.go:249-300)."""
        state = self.init()
        version = 0
        last_id = ""
        snap = self.store.read_snapshot(aggregate_id, discriminator)
        if snap is not None:
            if self.codec is not None:
                _, state = self.codec.decode(snap["aggregate_kind"], snap["body"])
            else:
                state = json.loads(snap["body"].decode())
            version = snap["aggregate_version"]
            last_id = snap["id"]

        events = self.store.read_aggregate_events(
            aggregate_id, gt_version=version, discriminator=discriminator
        )
        for ev in events:
            kind, body = ev["kind"], ev["body"]
            if self.codec is not None:
                kind, obj = self.codec.decode(kind, body)
            else:
                obj = json.loads(body.decode())
            handler = self.handlers.get(kind)
            if handler is not None:
                state = handler(state, kind, obj)
            version = ev["aggregate_version"]
            last_id = ev["id"]
        return Rehydrated(state, version, last_id, len(events))

    # ------------------------------------------------------------------ save
    def update(
        self,
        aggregate_id: str,
        do: Callable[[dict], list[tuple[str, dict]]],
        discriminator: dict[str, str] | None = None,
        created_at: datetime | None = None,
    ) -> Rehydrated:
        """Update = retrieve → user mutation → conflict-checked append →
        maybe snapshot (eventstore.go:230-242, 338-403). ``do`` receives
        the current state and returns the new events; the fold of those
        events through the handlers yields the post-save state."""
        agg = self.retrieve(aggregate_id, discriminator)
        new_events = do(agg.state)
        if not new_events:
            return agg
        last_id, version = self.store.append(
            aggregate_id,
            self.aggregate_kind,
            new_events,
            expected_version=agg.version,
            discriminator=discriminator,
            created_at=created_at,
        )
        state = agg.state
        for kind, body in new_events:
            handler = self.handlers.get(kind)
            if handler is not None:
                state = handler(state, kind, body)
        result = Rehydrated(
            state, version, last_id, agg.events_since_snapshot + len(new_events)
        )
        # snapshot threshold (eventstore.go:381-400): counter + new >= N;
        # failures tolerated in the reference (README.md:453-456)
        if result.events_since_snapshot >= self.store.snapshot_threshold:
            self.store.save_snapshot(
                last_id,
                aggregate_id,
                version,
                self.aggregate_kind,
                state,
                discriminator=discriminator,
                created_at=created_at,
            )
            result.events_since_snapshot = 0
        return result

    def create(
        self,
        aggregate_id: str,
        events: list[tuple[str, dict]],
        discriminator: dict[str, str] | None = None,
        created_at: datetime | None = None,
    ) -> Rehydrated:
        """Create = append at version 0 (eventstore.go:191-210)."""
        last_id, version = self.store.append(
            aggregate_id,
            self.aggregate_kind,
            events,
            expected_version=0,
            discriminator=discriminator,
            created_at=created_at,
        )
        state = self.init()
        for kind, body in events:
            handler = self.handlers.get(kind)
            if handler is not None:
                state = handler(state, kind, body)
        return Rehydrated(state, version, last_id, len(events))
