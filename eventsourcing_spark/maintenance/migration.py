"""M2 — in-place copy-replace migration (store/postgresql/events_migration.go:18-206).

Per affected stream the reference: appends an ``Invalidated`` guard
event (optimistic-lock: any concurrent writer's version collides),
marks the old generation ``migration = rev``, deletes the stream's
snapshots, then appends the transformed events with ``migrated = true``
— versions continuing after the guard. Old rows stay on disk but
vanish from every normal read via the standing F8 filter.

Spark-first: the reference loops one stream at a time
(events_migration.go:69-87 correlated subquery, LIMIT 1); here ALL
candidate streams migrate in one job. The reference's MigrationHandler
is literally UDTF-shaped — one stream in, N events out
(eventstore.go:133-135) — so it runs as an ``applyInPandas``
grouped-map: shuffle once on aggregate_id, transform every stream in
parallel, no driver involvement.

The pass reads the bucket heads once and writes through
``EventStore._rewrite_table``: a verified staged write, then one
remove+add commit per bucket log, in bucket order. This differs from
the reference, which migrates in one SQL transaction
(events_migration.go:96-110): here each bucket commits on its own.
Every stream lives in one bucket, so each stream still migrates
atomically, and first committer wins per stream:

* a writer that read the stream before the migration and appends after
  its bucket committed collides with the Invalidated guard's version;
* an append committed to a migrating stream after the heads were read
  makes that bucket's commit raise ``ConcurrentModificationError``,
  after the buckets before it have committed. Re-running with the same
  revision migrates the rest: candidates are re-selected from the
  active generation, as the reference's loop re-selects streams still
  at ``migration = 0`` with a target kind (events_migration.go:69-87).

Golden acceptance: test/pg/store_test.go:484-633 — a 4-event stream
becomes 9 rows (v1-4 migration=rev, v5 Invalidated, v6-9 migrated
``_V2`` bodies).
"""

from __future__ import annotations

import json
from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import functions as F

from eventsourcing_spark.schema import EVENT_SCHEMA
from eventsourcing_spark.store.event_store import EventStore
from eventsourcing_spark.io import materialize

KIND_INVALIDATED = "Invalidated"  # eventstore.go:17

# MigrationHandler (eventstore.go:133-135): [(kind, body), ...] -> same
MigrationHandler = Callable[[list[tuple[str, dict]]], list[tuple[str, dict]]]


def migrate_in_place(
    store: EventStore,
    revision: int,
    aggregate_kind: str,
    target_kinds: tuple[str, ...],
    handler: MigrationHandler,
    new_aggregate_kind: str | None = None,
    now: datetime | None = None,
) -> int:
    """Copy-replace migrate every stream of ``aggregate_kind`` whose
    history contains any of ``target_kinds``. Returns #streams migrated.
    """
    new_kind = new_aggregate_kind or aggregate_kind
    now = now or datetime.now(timezone.utc)
    created_naive = now.replace(tzinfo=None)

    pin = store._pin("events")
    raw = store._scan("events", pin)
    events = raw.filter(F.col("migration") == 0)
    # candidate streams: history contains a target kind (J3 semi-join)
    candidates = (
        events.filter(
            (F.col("aggregate_kind") == aggregate_kind)
            & F.col("kind").isin(list(target_kinds))
        )
        .select("aggregate_id")
        .distinct()
    )
    streams = events.join(candidates, "aggregate_id", "left_semi").select(
        "aggregate_id",
        "aggregate_id_hash",
        "aggregate_version",
        "kind",
        "body",
        "discriminator",
    )

    # Worker-closure hygiene: the grouped-map function must be
    # self-contained (stdlib + pandas only). The driver harness runs
    # queries under ITS OWN session with no PYTHONPATH export, so any
    # reference to a package symbol (UlidGenerator, a module-level
    # handler) pickles by module reference and dies on the executor
    # with ModuleNotFoundError. IDs are therefore encoded inline:
    # time prefix = base32(ms of `now`) > every pre-migration id,
    # entropy = base32(md5₅₉(aggregate_id)·2²⁰ + seq) — strictly
    # increasing within the stream, deterministic, and collision-
    # resistant across streams: the reference's 80-bit random ULID
    # entropy (eventid/eventid.go) is replaced by a 59-bit digest of
    # the FULL aggregate_id (not its 31-bit FNV hash, whose birthday
    # bound collides at ~54k streams) plus a 20-bit-aligned sequence;
    # cross-stream collision needs a 59-bit md5 collision AND equal
    # seq (~0.9% at 10⁸ streams per migration batch). 59 bits (not
    # 60) so digest·2²⁰ + seq provably fits the 16-char/80-bit
    # entropy field for any seq < 2⁷⁹ — at 60 bits a near-max digest
    # plus a long-enough stream would silently wrap and break the
    # monotonicity guarantee.
    ms_now = int(now.timestamp() * 1000)
    out_columns = [f.name for f in EVENT_SCHEMA.fields]

    def transform(pdf):
        import hashlib as _hashlib
        import json as _json

        import pandas as pd

        enc32 = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"

        def enc(value, length):
            out = []
            for _ in range(length):
                out.append(enc32[value & 31])
                value >>= 5
            return "".join(reversed(out))

        pdf = pdf.sort_values("aggregate_version")
        agg_id = pdf.iloc[0].aggregate_id
        hash_ = int(pdf.iloc[0].aggregate_id_hash)
        disc = dict(pdf.iloc[0].discriminator or {})
        version = int(pdf.aggregate_version.max())

        # 59-bit collision-resistant stream digest (NOT the 31-bit FNV
        # partition hash); `+ seq` (plain addition, not OR) keeps ids
        # unique and monotonic within a stream even past 2^20 events,
        # and 59 bits guarantees digest<<20 + seq < 2^80 (no silent
        # truncation in enc) for any stream shorter than 2^79 events.
        digest = (
            int(_hashlib.md5(str(agg_id).encode()).hexdigest()[:15], 16)
            & ((1 << 59) - 1)
        )
        seq = 0

        def new_id():
            nonlocal seq
            seq += 1
            return enc(ms_now, 10) + enc((digest << 20) + seq, 16)

        rows = []
        # guard event — blocks concurrent writers via the version-unique
        # constraint (events_migration.go:96-110)
        version += 1
        rows.append(
            (new_id(), agg_id, hash_, version, aggregate_kind,
             KIND_INVALIDATED, b"{}", created_naive, 0, False, disc)
        )
        old = [
            (r.kind, _json.loads(bytes(r.body).decode()))
            for r in pdf.itertuples()
        ]
        for kind, body in handler(old):
            version += 1
            rows.append(
                (new_id(), agg_id, hash_, version, new_kind, kind,
                 _json.dumps(body, separators=(",", ":")).encode(),
                 created_naive, 0, True, disc)
            )
        return pd.DataFrame(rows, columns=out_columns)

    new_gen = streams.groupBy("aggregate_id").applyInPandas(transform, EVENT_SCHEMA)
    # cut lineage: the rewrite below must not recompute from files that
    # the snapshot and bucket commits delete
    new_gen = new_gen.transform(materialize)
    candidates = candidates.transform(materialize)
    n_streams = new_gen.filter(F.col("kind") == KIND_INVALIDATED).count()
    if n_streams == 0:
        return 0

    # delete the streams' snapshots before the events commit
    # (events_migration.go:129-134)
    snap_pin = store._pin("snapshots")
    if any(h.files for h in snap_pin.values()):
        remaining = store._scan("snapshots", snap_pin).join(
            candidates, "aggregate_id", "left_anti"
        )
        store._rewrite_table("snapshots", remaining, snap_pin, candidates)

    # 1) UPDATE old generation: migration = rev WHERE migration = 0
    #    (events_migration.go:123-127) — left-semi against candidates
    marked = (
        raw.join(
            candidates.withColumnRenamed("aggregate_id", "_mig_id"),
            F.col("aggregate_id") == F.col("_mig_id"),
            "left",
        )
        .withColumn(
            "migration",
            F.when(
                F.col("_mig_id").isNotNull() & (F.col("migration") == 0),
                F.lit(revision),
            ).otherwise(F.col("migration")),
        )
        .drop("_mig_id")
    )
    store._rewrite_table("events", marked.unionByName(new_gen), pin, candidates)
    return n_streams
