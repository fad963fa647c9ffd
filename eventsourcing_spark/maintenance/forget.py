"""M1 — Forget (GDPR scrub): rewrite bodies in place
(eventstore.go:405-432; store/postgresql/store.go:446-495).

For a target ``(aggregate_id, kind)`` the reference decodes each body,
runs a user scrubber, re-encodes, and UPDATEs the row — events and all
the aggregate's snapshots — in one transaction. Here: one verified
``EventStore._rewrite_table`` per table, of the aggregate's bucket only
(every row of a stream lives in its bucket), each one remove+add commit
on that bucket's log that keeps appends committed meanwhile. The
scrubber runs as an Arrow-batched pandas UDF on matching rows only;
everything else passes through untouched.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import functions as F
from pyspark.sql import types as T

from eventsourcing_spark.store.event_store import EventStore

Scrubber = Callable[[str, dict], dict]  # (kind, body) -> scrubbed body


def _scrub_udf(scrubber: Scrubber):
    @F.pandas_udf(T.BinaryType())
    def scrub(kind, body):
        import pandas as pd

        out = []
        for k, b in zip(kind, body):
            obj = scrubber(k, json.loads(bytes(b).decode()))
            out.append(json.dumps(obj, separators=(",", ":")).encode())
        return pd.Series(out)

    return scrub


def forget(
    store: EventStore,
    aggregate_id: str,
    kinds: tuple[str, ...],
    event_scrubber: Scrubber,
    snapshot_scrubber: Scrubber | None = None,
) -> None:
    """Scrub bodies of ``kinds`` events of one aggregate, and all of the
    aggregate's snapshots. Non-matching rows are byte-identical
    pass-through (golden requirement: other fields intact,
    test/pg/store_test.go:373-482)."""
    scrub = _scrub_udf(event_scrubber)
    match = (F.col("aggregate_id") == aggregate_id) & F.col("kind").isin(list(kinds))
    bucket = [store._bucket(aggregate_id)]
    pin = store._pin("events", bucket)
    ev = store._scan("events", pin).withColumn(
        "body", F.when(match, scrub("kind", "body")).otherwise(F.col("body"))
    )
    store._rewrite_table("events", ev, pin)

    pin = store._pin("snapshots", bucket)
    if any(h.files for h in pin.values()):
        snap_scrub = _scrub_udf(snapshot_scrubber or event_scrubber)
        smatch = F.col("aggregate_id") == aggregate_id
        out = store._scan("snapshots", pin).withColumn(
            "body",
            F.when(smatch, snap_scrub("aggregate_kind", "body")).otherwise(
                F.col("body")
            ),
        )
        store._rewrite_table("snapshots", out, pin)
