"""Projection orchestrator — catch-up → switch → live (projection/projection.go).

The reference protocol (C1-C5):

1. **Catch-up** (projection.go:156-258): replay the store from the saved
   resume point up to ``until = now − StartOffset`` (1 min safety margin
   for out-of-order commit visibility, C4), split-partitioned by
   ``MOD(aggregate_id_hash, splits)``. In Spark this is ONE batch job:
   the split is a derived column; per-split resume tokens become a
   broadcast anti-filter; the handler sees the whole surviving frame.
2. **Switch** (C3, projection.go:213-256): the ``until`` boundary ULID is
   recorded as the live rejection threshold and delivered to the handler
   as a sentinel.
3. **Live** (C5): a Structured Streaming query over the store's change
   feed (``events_file_stream``: the files each commit adds, read from
   the per-bucket commit logs), starting before the boundary
   (deliberate overlap); every micro-batch passes through the C2 dual
   rejection filter, then the handler + checkpoint update run together
   (exactly-once effect).

The reference's distributed locks / worker balancing (C7) are NOT
ported: Spark's scheduler and the single streaming query per projection
already guarantee single-writer semantics (SURVEY.md §2.9) — within ONE
driver. Across drivers, the reference additionally serializes catch-up
behind a distributed lock (projection/projection.go:130-149 WaitForLock
via dist/redlock or consullock); pass ``lease_dir`` to get the same
guard here, built on the manifest protocol's put-if-absent primitive
(projection/lease.py): the second driver waits ``lease_wait`` seconds
for the holder, then raises ``LeaseHeld`` — and even a TTL-broken
double-run stays a no-op because the C2 checkpoint filter already
rejects re-delivered ids (tests/test_lease.py exercises both).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eventsourcing_spark.functions.ulid import ulid_time_only_py
from eventsourcing_spark.projection.checkpoints import Checkpoints, CheckpointStore
from eventsourcing_spark.store.event_store import EventStore, Filter
from eventsourcing_spark.store.feed import events_file_stream  # noqa: F401 — the live source


@dataclass(frozen=True)
class Meta:
    """Delivery metadata (projection/types.go:170-183)."""

    kind: str  # "catchup" | "switch" | "live"
    until_id: str = ""


Handler = Callable[[DataFrame, Meta], None]

DEFAULT_UNTIL_OFFSET = timedelta(minutes=1)  # projection/projection.go:23
DEFAULT_CATCHUP_WINDOW = timedelta(days=3)  # projection/projection.go:24


class Projector:
    def __init__(
        self,
        store: EventStore,
        name: str,
        handler: Handler,
        checkpoint_store: CheckpointStore,
        splits: int = 4,
        filter: Filter = Filter(),  # noqa: A002
        until_offset: timedelta = DEFAULT_UNTIL_OFFSET,
        catchup_window: timedelta = DEFAULT_CATCHUP_WINDOW,
        lease_dir: str | None = None,
        lease_wait: float = 0.0,
        lease_ttl: float = 300.0,
    ):
        self.store = store
        self.name = name
        self.handler = handler
        self.checkpoints = Checkpoints(checkpoint_store, name)
        self.splits = splits
        self.filter = filter
        self.until_offset = until_offset
        self.catchup_window = catchup_window
        self.lease_dir = lease_dir
        self.lease_wait = lease_wait
        self.lease_ttl = lease_ttl

    # ------------------------------------------------------------- catch-up
    def _with_split(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "split", F.pmod(F.col("aggregate_id_hash"), F.lit(self.splits))
        )

    def catch_up(self, now: datetime | None = None) -> str:
        """One catch-up pass; returns the ``until`` boundary ULID.

        The reference loops passes while a pass took longer than
        CatchUpWindow (projection.go:214); callers needing that loop call
        this repeatedly — each pass resumes from the saved tokens.

        With ``lease_dir`` set, the pass runs under the cross-driver
        singleton lease (the reference's WaitForLock,
        projection/projection.go:130-149): a concurrent driver waits up
        to ``lease_wait`` seconds, then raises ``LeaseHeld``.
        """
        if self.lease_dir is not None:
            from eventsourcing_spark.projection.lease import Lease

            with Lease(
                self.lease_dir,
                f"catchup-{self.name}",
                ttl=self.lease_ttl,
            ).acquire(wait=self.lease_wait):
                # fence: resume tokens must be read AFTER the lease is
                # held — a waiter's constructor-time checkpoint cache
                # predates the winner's writes (reference analog:
                # projection.go re-reads resume state inside the lock)
                self.checkpoints.store.reload()
                return self._catch_up_pass(now)
        return self._catch_up_pass(now)

    def _catch_up_pass(self, now: datetime | None = None) -> str:
        now = now or datetime.now(timezone.utc)
        until = ulid_time_only_py(now - self.until_offset)

        df = self._with_split(
            self.store.get_events(until=until, filter=self.filter)
        )
        df = self.checkpoints.filter_catchup(df)
        # the handler and the token aggregation both consume the frame —
        # cache so the store is scanned once per pass
        df = df.persist()
        try:
            # handler + token save form one logical transaction (C2): the
            # handler materializes the read model; tokens persist after.
            self.handler(df, Meta(kind="catchup", until_id=until))

            max_ids = {
                r.split: r.max_id
                for r in df.groupBy("split")
                .agg(F.max("id").alias("max_id"))
                .collect()
            }
            self.checkpoints.record_catchup(max_ids)
        finally:
            df.unpersist()
        return until

    # ---------------------------------------------------------------- switch
    def switch(self, until: str) -> None:
        """Record the live rejection threshold and deliver the sentinel
        (C3; projection.go:220-231)."""
        self.checkpoints.record_switch(until)
        empty = self.store.events().limit(0)
        self.handler(empty, Meta(kind="switch", until_id=until))

    def project(self, now: datetime | None = None) -> str:
        """Catch-up then switch; live phase attaches via live_batch/stream."""
        until = self.catch_up(now)
        self.switch(until)
        return until

    # ------------------------------------------------------------------ live
    def live_batch(self, batch: DataFrame) -> None:
        """C2 live rule applied to one micro-batch — the ``foreachBatch``
        body. Partition = pmod(hash, splits)+1 (bus parity) when the
        frame doesn't carry one; a bus-delivered frame (file_sink.
        bus_messages) arrives with its partition pre-assigned and keeps
        it. Rejection = id <= switch threshold OR position <= saved per
        partition."""
        if "partition" not in batch.columns:
            batch = batch.withColumn(
                "partition",
                F.pmod(F.col("aggregate_id_hash"), F.lit(self.splits)) + 1,
            )
        survivors = self.checkpoints.filter_live(batch)
        survivors = survivors.persist()
        try:
            self.handler(survivors.drop("partition"), Meta(kind="live"))
            positions = {
                r.partition: (r.max_id, None)
                for r in survivors.groupBy("partition")
                .agg(F.max("id").alias("max_id"))
                .collect()
            }
            if positions:
                self.checkpoints.record_live(positions)
        finally:
            survivors.unpersist()

    def live_stream_writer(self, events_stream: DataFrame):
        """Wire the live phase onto any streaming frame of events:
        ``projector.live_stream_writer(stream).start()``; pair with
        ``trigger(availableNow=True)`` for drain-and-stop runs."""
        return events_stream.writeStream.foreachBatch(
            lambda df, _epoch: self.live_batch(df)
        )
