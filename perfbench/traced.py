"""Subclasses of the package's public classes that record a span per call.

The spans sit at the layer boundaries the benchmark can see from
outside: the store, the projector and its checkpoint store.
"""

from __future__ import annotations

from eventsourcing_spark.projection.checkpoints import CheckpointStore
from eventsourcing_spark.projection.projector import Projector
from eventsourcing_spark.store.event_store import EventStore


class TracedStore(EventStore):
    """An ``EventStore`` that records a span around each call the workloads make."""

    def __init__(self, *args, tracer, **kwargs):
        super().__init__(*args, **kwargs)
        self.tracer = tracer

    def append(self, *args, **kwargs):
        with self.tracer.span("store.append"):
            return super().append(*args, **kwargs)

    def save_snapshot(self, *args, **kwargs):
        with self.tracer.span("store.save_snapshot"):
            return super().save_snapshot(*args, **kwargs)

    def get_snapshot(self, *args, **kwargs):
        with self.tracer.span("store.get_snapshot"):
            return super().get_snapshot(*args, **kwargs)

    def get_aggregate_events(self, *args, **kwargs):
        with self.tracer.span("store.get_aggregate_events"):
            return super().get_aggregate_events(*args, **kwargs)

    def get_events(self, *args, **kwargs):
        with self.tracer.span("store.get_events"):
            return super().get_events(*args, **kwargs)

    def bulk_import(self, *args, **kwargs):
        with self.tracer.span("store.bulk_import"):
            return super().bulk_import(*args, **kwargs)


class TracedCheckpoints(CheckpointStore):
    def __init__(self, *args, tracer, **kwargs):
        self.tracer = tracer
        super().__init__(*args, **kwargs)

    def put(self, *args, **kwargs):
        with self.tracer.span("checkpoints.persist"):
            return super().put(*args, **kwargs)

    def put_many(self, *args, **kwargs):
        with self.tracer.span("checkpoints.persist"):
            return super().put_many(*args, **kwargs)


class TracedProjector(Projector):
    def __init__(self, *args, tracer, **kwargs):
        super().__init__(*args, **kwargs)
        self.tracer = tracer

    def catch_up(self, *args, **kwargs):
        with self.tracer.span("projection.catch_up"):
            return super().catch_up(*args, **kwargs)

    def switch(self, *args, **kwargs):
        with self.tracer.span("projection.switch"):
            return super().switch(*args, **kwargs)

    def live_batch(self, *args, **kwargs):
        with self.tracer.span("projection.live_batch"):
            return super().live_batch(*args, **kwargs)
